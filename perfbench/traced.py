"""The traced run: per-layer metrics and the tracing overhead.

Two legs run from the same set-up state: an untraced closed loop (its
throughput is the baseline) and a traced one, whose spans wrap the
program's public functions by the names the program looks them up by.
After every traced batch the Spark stages launched under each layer's job
group are summed into that layer.
"""

from __future__ import annotations

import os
import statistics

from perfbench.spans import JobGroups, Tracer

# Layers whose calls launch Spark jobs report stage metrics as well.
JOB_LAYERS = {"planner", "engine", "quality", "prune", "write", "compact"}
LAYERS = ("planner", "engine", "evolve", "converters", "quality", "prune",
          "write", "publish", "snapshot", "state", "compact", "pointread")


def targets():
    """(owner, attribute, layer) for every wrapped call site."""
    import gobblin_spark.engine as engine_mod
    from gobblin_spark.engine import CdcEngine
    from gobblin_spark.lakehouse.table import LakeTable
    from gobblin_spark.operators.quality import RowLevelPolicyChecker
    from gobblin_spark.plans.planner import Planner
    from gobblin_spark.state.store import StateStore

    return [
        (Planner, "plan_batch", "planner"),
        (CdcEngine, "run_batch", "engine"),
        # bound by name in engine.py, so patched there
        (engine_mod, "evolve_target_to", "evolve"),
        (engine_mod, "compact", "compact"),
        (RowLevelPolicyChecker, "execute", "quality"),
        (LakeTable, "buckets_of", "prune"),
        (LakeTable, "write_data_files", "write"),
        (LakeTable, "commit", "publish"),
        (LakeTable, "snapshot", "snapshot"),
        (StateStore, "begin_batch", "state"),
        (StateStore, "commit_batch", "state"),
        (StateStore, "maybe_checkpoint_log", "state"),
    ]


def install_counters(tracer: Tracer) -> None:
    """Count rows and bytes at layer boundaries from call results, until
    ``tracer.unpatch_all``."""
    import pyarrow.parquet as pq

    import gobblin_spark.engine as engine_mod
    from gobblin_spark.lakehouse.table import LakeTable
    from gobblin_spark.operators.quality import RowLevelPolicyChecker

    c = tracer.counters

    def on_quality(result):
        if result.passed_count is not None:
            c["quality.passed_rows"] += result.passed_count
            c["quality.checked_calls"] += 1

    def on_write(files):
        c["write.rows"] += sum(f.rows for f in files)

    tracer.observe(RowLevelPolicyChecker, "execute", after=on_quality)
    tracer.observe(LakeTable, "write_data_files", after=on_write)

    def before_compact(table, *args, **kwargs):
        return {f.path: f.rows for f in table.snapshot().files}

    def on_compact(before, snap):
        after = {f.path for f in snap.files}
        c["compact.rows_in"] += sum(r for p, r in before.items()
                                    if p not in after)
        c["compact.rows_out"] += sum(f.rows for f in snap.files
                                     if f.path not in before)

    tracer.observe(engine_mod, "compact", before=before_compact,
                   after=on_compact)

    def on_read(tbl):
        c["pointread.rows"] += tbl.num_rows
        c["pointread.bytes"] += tbl.nbytes

    tracer.observe(pq.ParquetFile, "read_row_groups", after=on_read)


def lookup_traced(tracer: Tracer):
    from gobblin_spark.lakehouse.pointread import (
        FALLBACK,
        point_lookup_local,
    )

    wrapped = tracer.wrap(point_lookup_local, "pointread")

    def lookup(table, key):
        tracer.counters["pointread.lookups"] += 1
        row = wrapped(table, key)
        if row is FALLBACK:
            tracer.counters["pointread.fallbacks"] += 1
        return row

    return lookup


def quarantined_rows(err_root: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for dirpath, _, files in os.walk(err_root):
        for name in files:
            if name.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(dirpath, name)) \
                    .metadata.num_rows
    return n


def traced(run, report: dict) -> dict:
    """Per-layer metrics of a traced leg, run batch by batch alternately
    with an untraced leg from the same set-up state."""
    from gobblin_spark.lakehouse.pointread import point_lookup_local
    from perfbench.loop import Leg

    sc = run.spark.sparkContext
    plain, _, _ = run.fresh_engine("untraced")
    eng, conv, root = run.fresh_engine("traced")
    tracer = Tracer(JobGroups(sc))
    err_root = os.path.join(root, "err")
    start = {}

    def activate():
        for owner, name, layer in targets():
            tracer.patch(owner, name, layer)
        install_counters(tracer)

    def on_timed_start():
        # forget the warm-up batch
        tracer.collect_stage_metrics(sc)
        tracer.reset()
        start["quarantined"] = quarantined_rows(err_root)
        if conv is not None:
            start.update(batches=conv.batches.value, rows=conv.rows.value,
                         fn_ms=conv.fn_ms.value)

    base, res = run.loop([
        Leg(plain, point_lookup_local),
        Leg(eng, lookup_traced(tracer), activate=activate,
            deactivate=tracer.unpatch_all, on_timed_start=on_timed_start,
            after_batch=lambda r: tracer.collect_stage_metrics(sc)),
    ])
    base_eps = base["applied"] / base["wall_s"]
    chk = run.check(eng)
    report.update(loop=run.summary(res), untraced_loop=run.summary(base),
                  check=chk)

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(tracer.metrics(JOB_LAYERS))
    c = tracer.counters
    # the converter runs on the executors: its span is the time inside the
    # Arrow function, summed over tasks, and a call is one Arrow batch
    if conv is not None:
        fn_ms = conv.fn_ms.value - start["fn_ms"]
        n_batches = conv.batches.value - start["batches"]
        m.update({"converters.wall_s": fn_ms / 1000.0,
                  "converters.self_s": fn_ms / 1000.0,
                  "converters.calls": n_batches,
                  "converters.arrow_batches": n_batches,
                  "converters.arrow_rows": conv.rows.value - start["rows"],
                  "converters.fn_ms": fn_ms})
    failed_q = quarantined_rows(err_root) - start["quarantined"]
    passed_q = c.get("quality.passed_rows", 0)
    m["quality.pass_frac"] = (passed_q / (passed_q + failed_q)
                              if c.get("quality.checked_calls") else 1.0)
    m["write.amp_rows"] = c.get("write.rows", 0) / max(1, res["applied"])
    m["compact.rows_out_per_in"] = (c.get("compact.rows_out", 0)
                                    / max(1, c.get("compact.rows_in", 0)))
    n_look = max(1, c.get("pointread.lookups", 0))
    m["pointread.rows_read_per_lookup"] = c.get("pointread.rows", 0) / n_look
    m["pointread.bytes_read_per_lookup"] = c.get("pointread.bytes", 0) / n_look
    m["pointread.fallback_frac"] = c.get("pointread.fallbacks", 0) / n_look
    traced_eps = res["applied"] / res["wall_s"]
    m["trace.untraced_events_per_s"] = base_eps
    m["trace.traced_events_per_s"] = traced_eps
    m["trace.overhead_frac"] = 1.0 - traced_eps / base_eps
    report["trace_batches"] = {"untraced_p50_s": statistics.median(
        base["batch_s"]), "traced_p50_s": statistics.median(res["batch_s"])}
    return m


def _per_layer() -> dict[str, tuple[str, str]]:
    """Per-layer metrics: name -> (unit, better)."""
    out = {}
    for layer in LAYERS:
        out.update({f"{layer}.wall_s": ("s", "lower"),
                    f"{layer}.self_s": ("s", "lower"),
                    f"{layer}.calls": ("count", "lower")})
        if layer in JOB_LAYERS:
            out[f"{layer}.jobs"] = ("count", "lower")
            out[f"{layer}.executor_cpu_ms"] = ("ms", "lower")
            for name in ("input_bytes", "shuffle_read_bytes",
                         "shuffle_write_bytes", "output_bytes",
                         "spill_bytes"):
                out[f"{layer}.{name}"] = ("B", "lower")
            out[f"{layer}.failed_tasks"] = ("count", "lower")
    out.update({
        "converters.arrow_batches": ("count", "lower"),
        "converters.arrow_rows": ("count", "lower"),
        "converters.fn_ms": ("ms", "lower"),
        "quality.pass_frac": ("ratio", "higher"),
        "write.amp_rows": ("ratio", "lower"),
        "compact.rows_out_per_in": ("ratio", "lower"),
        "pointread.rows_read_per_lookup": ("rows", "lower"),
        "pointread.bytes_read_per_lookup": ("B", "lower"),
        "pointread.fallback_frac": ("ratio", "lower"),
        "trace.untraced_events_per_s": ("1/s", "higher"),
        "trace.traced_events_per_s": ("1/s", "higher"),
        "trace.overhead_frac": ("ratio", "lower"),
    })
    return out


PER_LAYER = _per_layer()
