#!/usr/bin/env python3
"""Whole-pipeline benchmark of the snapshot-archive engine.

    python3 perfbench/run.py --workload archive --seed 1 --seconds 10 --trace 0

Generates seeded inputs, runs one workload through the library's public
functions on ``local[<cores>]`` in this process, checks every output
against the generator's ground truth and prints, as its last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. The line
before it (prefixed ``perfbench``) is the full report: the environment,
every named metric with its unit, per-phase walls and, when traced,
per-layer metrics. The same report and the spans are written to
``.perfbench_out/``.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs with spans on (the archive pass, interleaved lookups,
warm staged corpus passes), harvests the Spark metrics of every span, and
reports the per-layer metrics and the tracing overhead (traced minus
untraced median operation time).

Workloads (see README.md in this directory):

- ``archive``: one batch pass of the write path (ingest → maintenance →
  datamodel append → export), then closed-loop point lookups and hash
  searches on the store it wrote.
- ``corpus_dedup``: one pass of quality filter → exact dedup → MinHash
  dedup → sequence packing → write.

Exit status is 1 when any check fails, after the result line is printed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import faexport_db_spark  # noqa: E402,F401  (fails fast outside a checkout of the engine)

import spans as tracing  # noqa: E402

WORKLOADS = ("archive", "corpus_dedup")
DRIVER_MEMORY = "2g"

# Per-layer metric families (see README.md for what each should move).
LAYERS = (
    "ingest",
    "maintenance",
    "datamodel",
    "serve.export",
    "serve.view_submission",
    "serve.search_hash",
    "training.quality",
    "training.exact",
    "training.minhash",
    "training.pack",
)
FAMILY = (
    "busy_s", "self_s", "jobs", "scan_rows", "shuffle_bytes", "spill_bytes", "sort_s",
    "peak_mem_bytes", "exchanges", "sorts", "sort_aggregates", "python_evals",
)
# Layers whose spans have child spans; every other layer's self_s equals busy_s.
NESTED_LAYERS = ("maintenance",)
EXTRA_LAYER_METRICS = {
    "session.start_s": "s",
    "maintenance.rounds": "count",
    "maintenance.removed_ratio": "ratio",
    "datamodel.append_s": "s",
    "datamodel.bytes_written": "B",
    "datamodel.files_written": "count",
    "serve.export_s": "s",
    "operators.sort_aggregates": "count",
    "operators.sort_s": "s",
    "operators.spill_bytes": "B",
    "serve.view_submission.scan_rows_per_result": "rows",
    "serve.search_hash.scan_rows_per_result": "rows",
    "serve.jobs_per_lookup": "count",
    "training.minhash.candidate_pairs": "count",
    "training.minhash.verified_pairs": "count",
    "training.minhash.useful_ratio": "ratio",
    "trace.overhead_s": "s",
}
FAMILY_UNITS = {
    "busy_s": "s", "self_s": "s", "jobs": "count", "scan_rows": "rows", "shuffle_bytes": "B",
    "spill_bytes": "B", "sort_s": "s", "peak_mem_bytes": "B", "exchanges": "count",
    "sorts": "count", "sort_aggregates": "count", "python_evals": "count",
}
END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    names = {}
    for layer in LAYERS:
        for metric in FAMILY:
            if metric == "self_s" and layer not in NESTED_LAYERS:
                continue
            names[f"{layer}.{metric}"] = FAMILY_UNITS[metric]
    names.update(EXTRA_LAYER_METRICS)
    return names


# --------------------------------------------------------------------------
# Environment and session
# --------------------------------------------------------------------------


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # -XX:-UsePerfData: no hsperfdata files under /tmp for any JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(cores: int, work: str, trace: bool):
    from faexport_db_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        # Keep every execution and job of the run for the harvest.
        conf["spark.sql.ui.retainedExecutions"] = "100000"
        conf["spark.ui.retainedJobs"] = "100000"
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    return proc.pid if proc is not None else None


def jvm_peak_rss_mb(pid: int | None) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Meter:
    """Wall seconds, CPU seconds (JVM plus this process) and VM steal
    seconds (summed over all CPUs), read together around an operation."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def read(self) -> tuple[float, float, float]:
        with open(f"/proc/{self.pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        with open("/proc/stat") as fh:
            steal = int(fh.readline().split()[8]) / self.tick
        jvm_cpu = (int(fields[11]) + int(fields[12])) / self.tick
        return time.perf_counter(), jvm_cpu + time.process_time(), steal


def delta(before: tuple, after: tuple) -> dict[str, float]:
    return dict(zip(("wall_s", "cpu_s", "steal_s"), (b - a for a, b in zip(before, after))))


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def source_digest() -> str:
    """sha1 over the engine's Python sources: identifies the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "faexport_db_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith((".py", ".json")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


# --------------------------------------------------------------------------
# Statistics
# --------------------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or (None, None) with fewer than twenty samples."""
    n = len(samples)
    best = None
    for pct in (50, 75, 90, 95, 99, 99.9):
        if n * (100 - pct) >= 1000 - 1e-6:  # at least ten samples beyond pct
            best = pct
    if best is None or best == 50:
        return None, None
    ordered = sorted(samples)
    idx = min(n - 1, int(round(best / 100 * (n - 1))))
    return best, ordered[idx]


def median(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None


def abba_traced(k: int) -> bool:
    """Whether the k-th of a series of operations is traced: ABBA order
    (untraced, traced, traced, untraced, ...) cancels a steady drift."""
    return k % 4 in (1, 2)


# --------------------------------------------------------------------------
# Per-layer metrics
# --------------------------------------------------------------------------


def layer_metrics(spans: list[tracing.Span]) -> dict[str, dict]:
    """Per-call means per span name: busy, self and every harvested count."""
    children: dict[int, list[tracing.Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)

    def inclusive(sp: tracing.Span) -> dict[str, float]:
        counts = dict(sp.counts)
        for child in children.get(sp.idx, []):
            for key, value in inclusive(child).items():
                counts[key] = max(counts[key], value) if key == "peak_mem_bytes" else counts[key] + value
        return counts

    out: dict[str, dict] = {}
    for sp in spans:
        agg = out.setdefault(sp.name, {"calls": 0, "busy_s": 0.0, "self_s": 0.0, **tracing.empty_counts()})
        busy = sp.end - sp.start
        agg["calls"] += 1
        agg["busy_s"] += busy
        agg["self_s"] += busy - sum(c.end - c.start for c in children.get(sp.idx, []))
        for key, value in inclusive(sp).items():
            agg[key] = max(agg[key], value) if key == "peak_mem_bytes" else agg[key] + value
    for agg in out.values():
        for key in list(agg):
            if key not in ("calls", "peak_mem_bytes"):
                agg[key] /= agg["calls"]
    return out


def traced_metrics(layers: dict[str, dict], result: dict, session_start_s: float) -> dict[str, float]:
    """Every per-layer metric: the span means plus the derived ones."""
    extra = dict(result.get("trace_extra", {}))
    extra["session.start_s"] = session_start_s
    if "maintenance" in layers:
        extra["maintenance.rounds"] = (
            layers.get("maintenance.cleanup", {}).get("calls", 0) / layers["maintenance"]["calls"]
        )
        # Rows the store lacks of those delivered, per row maintenance scanned.
        removed = extra.pop("maintenance.rows_removed", 0.0)
        scanned = layers["maintenance"]["scan_rows"]
        extra["maintenance.removed_ratio"] = removed / scanned if scanned else 0.0
    if "datamodel" in layers:
        extra["datamodel.append_s"] = layers["datamodel"]["busy_s"]
    if "serve.export" in layers:
        extra["serve.export_s"] = layers["serve.export"]["busy_s"]
    # The merge and fold operators are lazy: they run inside the jobs of
    # whichever layer consumes them, so they are counted over a whole pass.
    root = layers.get("archive.pass") or layers.get("corpus.pass") or {}
    for key in ("sort_aggregates", "sort_s", "spill_bytes"):
        extra[f"operators.{key}"] = root.get(key, 0.0)
    rows = result.get("trace_rows", {})
    for kind, layer in (("view", "serve.view_submission"), ("search", "serve.search_hash")):
        if layer in layers and rows.get(kind):
            rows_per_call = rows[kind] / layers[layer]["calls"]
            extra[f"{layer}.scan_rows_per_result"] = layers[layer]["scan_rows"] / rows_per_call
    if result.get("trace_lookups"):
        jobs = sum(
            layers[layer]["jobs"] * layers[layer]["calls"]
            for layer in ("serve.view_submission", "serve.search_hash")
            if layer in layers
        )
        extra["serve.jobs_per_lookup"] = jobs / result["trace_lookups"]
    return fill_per_layer(layers, extra)


def fill_per_layer(layers: dict[str, dict], extra: dict[str, float]) -> dict[str, float]:
    values = {}
    for name in per_layer_names():
        layer, _, metric = name.rpartition(".")
        if name in extra:
            values[name] = extra[name]
        elif layer in layers and metric in layers[layer]:
            values[name] = layers[layer][metric]
        else:
            values[name] = 0.0
    return values


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


class Run:
    """Outcome bookkeeping shared by both workloads."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, errors: list[str]) -> bool:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors[:5])
        return not errors

    def guarded(self, fn, *args):
        """Call ``fn``; an exception counts as a failed operation and its
        traceback goes to stderr."""
        try:
            return fn(*args), None
        except Exception as exc:  # noqa: BLE001 - reported, counted, never hidden
            traceback.print_exc()
            return None, f"{type(exc).__name__}: {exc}".splitlines()[0]


def run_archive(spark, tracer, meter, args, work, run: Run, arc) -> dict:
    import archive

    plan = archive.lookup_plan(arc, args.seed)
    meters: list[dict] = []
    warmup = 2  # one search and one view, unmeasured, compile the read plans

    def batch(tag: str) -> dict:
        out = os.path.join(work, f"out-{tag}")
        before = meter.read()
        walls, err = run.guarded(archive.batch_pass, spark, tracer, arc, out, 0)
        if walls:
            walls["pass_meter"] = delta(before, meter.read())
        if err:
            run.record([f"batch pass: {err}"])
            return {}
        if not run.record(archive.check_pass(arc, out)):
            return {}
        n_files, n_bytes, n_rows = archive.store_files(out)
        return {
            "walls": walls,
            "files": n_files,
            "bytes": n_bytes,
            "rows": n_rows,
            "store": archive.open_store(spark, out),
        }

    def lookups(store, first: int, interleave: bool = False) -> dict:
        """Closed loop from ``plan[first]`` for the run's seconds, in whole
        cycles of one search and three views. With ``interleave``, pairs of
        lookups are traced in ABBA order over at least two cycles, so both
        sides get one search and three views per two cycles."""
        cycle = archive.SEARCH_EVERY
        lat = {True: {"view": [], "search": []}, False: {"view": [], "search": []}}
        rows = {"view": 0, "search": 0}
        t_end = time.perf_counter() + args.seconds
        n = 0
        unit = 2 * cycle if interleave else cycle
        while time.perf_counter() < t_end or n % unit or n < unit:
            kind, key = plan[first + n]
            tracer.enabled = interleave and abba_traced(n // 2)
            wall, found = checked_lookup(store, kind, key, first + n)
            lat[tracer.enabled][kind].append(wall)
            if tracer.enabled:
                rows[kind] += found
            n += 1
        tracer.enabled = False
        return {"untraced": lat[False], "traced": lat[True], "rows": rows}

    def checked_lookup(store, kind: str, key, op_id: int) -> tuple[float, int]:
        """One lookup, checked and recorded: (wall seconds, result rows)."""
        before = meter.read()
        result, err = run.guarded(archive.lookup, store, tracer, kind, key, op_id)
        used = delta(before, meter.read())
        meters.append(used)
        found = 0
        if err is None:
            err, found = archive.check_lookup(arc, kind, key, result)
        run.record([err] if err else [])
        return used["wall_s"], found

    # A traced run traces this pass itself: it is the cold pass that
    # items_per_s measures, so the layer times add up to it.
    tracer.enabled = bool(args.trace)
    first = batch("first")
    tracer.enabled = False
    if not first:
        return {"end_to_end": {"items_per_s": None, "op_p50_s": None}, "named": {}}
    for i, (kind, key) in enumerate(plan[:warmup]):
        checked_lookup(first["store"], kind, key, i)
    lat = lookups(first["store"], warmup)["untraced"]
    both = lat["view"] + lat["search"]
    items_per_s = arc.snapshot_rows_delivered / first["walls"]["pass_s"]
    view_pct, view_tail = tail(lat["view"])
    search_pct, search_tail = tail(lat["search"])
    result = {
        "walls": {**first["walls"], "lookups_s": lat, "lookup_meters": meters[warmup:]},
        "end_to_end": {"items_per_s": items_per_s, "op_p50_s": median(both)},
        "named": {
            "snapshots_per_s": (items_per_s, "1/s"),
            "store_bytes_per_input_byte": (first["bytes"] / arc.input_bytes, "ratio"),
            "lookups_per_s": (len(both) / sum(both), "1/s"),
            "view_submission_p50_s": (median(lat["view"]), "s"),
            "view_submission_tail_s": (
                view_tail, "s", {"percentile": view_pct, "samples": len(lat["view"])}
            ),
            "search_hash_p50_s": (median(lat["search"]), "s"),
            "search_hash_tail_s": (
                search_tail, "s", {"percentile": search_pct, "samples": len(lat["search"])}
            ),
        },
    }
    if args.trace:
        # Traced and untraced calls interleaved, so both see the same JVM
        # warmth and key mix: their median difference is the overhead.
        ab = lookups(first["store"], warmup + len(both), interleave=True)
        t_both = ab["traced"]["view"] + ab["traced"]["search"]
        u_both = ab["untraced"]["view"] + ab["untraced"]["search"]
        result["walls"]["interleaved_lookups_s"] = {"traced": ab["traced"], "untraced": ab["untraced"]}
        result["trace_extra"] = {
            "datamodel.bytes_written": float(first["bytes"]),
            "datamodel.files_written": float(first["files"]),
            "maintenance.rows_removed": float(arc.rows_delivered_all - first["rows"]),
            "trace.overhead_s": median(t_both) - median(u_both),
        }
        result["trace_rows"] = ab["rows"]
        result["trace_lookups"] = len(t_both)
    return result


def run_corpus(spark, tracer, meter, args, work, run: Run, docs) -> dict:
    import corpus

    quality = {}
    meters: list[dict] = []

    def one(tag: str, i: int, staged: bool = False, probe: bool = False):
        out = os.path.join(work, f"out-{tag}-{i}")
        before = meter.read()
        stats, err = run.guarded(corpus.run_pass, spark, tracer, docs, out, i, staged, probe)
        used = delta(before, meter.read())
        meters.append({"tag": tag, **used})
        dt = used["wall_s"]
        if err:
            run.record([f"pass: {err}"])
            return None, {}
        errors, ratios = corpus.check_pass(docs, out)
        quality.update(ratios)
        run.record(errors)
        shutil.rmtree(out, ignore_errors=True)
        return dt, stats

    # One plain pass in a fresh JVM is the job as a user runs it. A warm
    # pass costs about half a cold one, and a median of several would not
    # fit the run budget, so op_p50_s is this pass's wall: n_docs / items_per_s.
    cold, _ = one("cold", 0)
    if cold is None:
        return {"end_to_end": {"items_per_s": None, "op_p50_s": None}, "named": {}}
    items_per_s = docs.n_docs / cold
    result = {
        "walls": {"pass_s": cold, "pass_meters": meters},
        "end_to_end": {"items_per_s": items_per_s, "op_p50_s": cold},
        "named": {
            "docs_per_s": (items_per_s, "1/s"),
            "near_dup_recall": (quality.get("near_dup_recall"), "ratio"),
            "unique_kept_ratio": (quality.get("unique_kept_ratio"), "ratio"),
        },
    }
    if args.trace:
        # Warm staged passes, untraced and traced in ABBA order, so a JVM
        # still warming up favours neither side: the median difference is
        # the overhead. The spans need the staged form: in a plain pass
        # the write runs every stage, so all work would land on "pack".
        warm, traced = [], []
        for k in range(4):
            tracer.enabled = abba_traced(k)
            dt, _ = one("traced" if tracer.enabled else "warm", 1 + k, staged=True)
            if dt is None:
                break
            (traced if tracer.enabled else warm).append(dt)
        tracer.enabled = False
        result["walls"].update(warm_passes_s=warm, traced_passes_s=traced)
        # Pair counts: one more pass, untraced, so they cost no span time.
        _, probe = one("probe", 0, staged=True, probe=True)
        extra = {}
        if probe:
            extra["training.minhash.candidate_pairs"] = float(probe["candidate_pairs"])
            extra["training.minhash.verified_pairs"] = float(probe["verified_pairs"])
            extra["training.minhash.useful_ratio"] = (
                probe["verified_pairs"] / probe["candidate_pairs"] if probe["candidate_pairs"] else 0.0
            )
        if warm and traced:
            extra["trace.overhead_s"] = median(traced) - median(warm)
        result["trace_extra"] = extra
    return result


# --------------------------------------------------------------------------
# Main
# --------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    spark = None
    try:
        t0 = time.perf_counter()
        if args.workload == "archive":
            import archive

            data = archive.inputs(work, args.seed)
            sizes = {
                "snapshot_rows_delivered": data.snapshot_rows_delivered,
                "entities": len(data.entities),
                "distinct_snapshots": data.distinct_snapshots,
                "input_bytes": data.input_bytes,
            }
        else:
            import corpus

            data = corpus.inputs(work, args.seed)
            sizes = {"docs": data.n_docs, "input_bytes": data.input_bytes}
        gen_s = time.perf_counter() - t0

        # Set-up is what a user pays to start a job: launching the JVM
        # and the session in it.
        t0 = time.perf_counter()
        spark = start_session(cores, work, bool(args.trace))
        setup_s = time.perf_counter() - t0
        sc = spark.sparkContext
        if sc.defaultParallelism != cores:
            print(
                f"perfbench: defaultParallelism {sc.defaultParallelism} != {cores} cores",
                file=sys.stderr,
            )
            return 2
        env = {
            "default_parallelism": sc.defaultParallelism,
            "master": sc.master,
            "spark_version": spark.version,
            "driver_memory": DRIVER_MEMORY,
            "seed": args.seed,
            "seconds": args.seconds,
            "input_sizes": sizes,
            "input_gen_s": gen_s,
            "git_sha": git_sha(),
            "source_sha1": source_digest(),
            "python": sys.version.split()[0],
        }
        tracer = tracing.Tracer(spark, enabled=False)
        run = Run()
        runner = run_archive if args.workload == "archive" else run_corpus
        result = runner(spark, tracer, Meter(jvm_pid()), args, work, run, data)
        peak = jvm_peak_rss_mb(jvm_pid())

        per_layer, harvest, layers = {}, {}, {}
        if args.trace:
            t0 = time.perf_counter()
            n_exec = tracer.harvest()
            harvest = {"executions": n_exec, "harvest_s": time.perf_counter() - t0, "spans": len(tracer.spans)}
            if n_exec == 0:
                run.record(["trace harvest found no SQL executions"])
            layers = layer_metrics(tracer.spans)
            per_layer = traced_metrics(layers, result, setup_s)

        e2e = {"setup_s": setup_s, **result["end_to_end"]}
        named = {
            "setup_s": (e2e["setup_s"], "s"),
            "peak_rss_mb": (peak, "MB"),
            "error_rate": (run.failed / run.attempted if run.attempted else 1.0, "ratio"),
            **result["named"],
        }
        if any(v is None for v in e2e.values()):
            run.record([f"metric not measured: {[k for k, v in e2e.items() if v is None]}"])
        correct = run.failed == 0
        report = {
            "workload": args.workload,
            "trace": args.trace,
            "env": env,
            "metrics": {
                k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})} for k, v in named.items()
            },
            "walls": result.get("walls"),
            "per_layer": per_layer,
            "harvest": harvest,
            "layers": layers,
            "errors": run.errors[:20],
        }
        print("perfbench " + json.dumps(report, sort_keys=True, default=str))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w"
        ) as fh:
            json.dump(
                {**report, "spans": [sp.__dict__ for sp in tracer.spans]}, fh, default=str, indent=1
            )
        if args.trace:
            metrics = {k: {"value": per_layer[k], "unit": u} for k, u in per_layer_names().items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": max(run.attempted, 1),
                    "failed": run.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0 if correct else 1
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_jvm(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
