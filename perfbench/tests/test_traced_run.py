"""Tracing must not change what the program does, and the oracle must
agree with the engine (needs Spark)."""

import dataclasses
import os

from gobblin_spark.lakehouse.merge import table_fingerprint
from perfbench import workloads as W
from perfbench.spans import JobGroups, Tracer
from perfbench.traced import JOB_LAYERS, install_counters, targets


def small(name, **kw):
    return dataclasses.replace(W.WORKLOADS[name], n_repos=6,
                               paths_per_repo=50, **kw)


def engine_on(spark, wl, seed, workdir):
    events_path = os.path.join(workdir, "events")
    template = os.path.join(workdir, "t")
    n_events = W.make_inputs(spark, wl, seed, 10, events_path, template)
    eng, _ = W.make_engine(spark, wl,
                           W.read_frame(spark, W.EVENT_SCHEMA, events_path),
                           n_events, os.path.join(template, "table"),
                           os.path.join(template, "state"),
                           os.path.join(template, "err"))
    return eng, W.read_events(events_path)


def run_stream(spark, wl, workdir, tracer=None):
    eng, _ = engine_on(spark, wl, 3, workdir)
    if tracer is not None:
        for owner, name, layer in targets():
            tracer.patch(owner, name, layer)
        install_counters(tracer)
    try:
        results = eng.run_until_caught_up()
    finally:
        if tracer is not None:
            tracer.unpatch_all()
    return results, table_fingerprint(eng.table)


def test_traced_run_matches_untraced(spark, workdir):
    wl = small("evolve_convert", events_per_second=60)
    plain, fp_plain = run_stream(spark, wl, os.path.join(workdir, "plain"))
    sc = spark.sparkContext
    group_before = sc.getLocalProperty("spark.jobGroup.id")
    tracer = Tracer(JobGroups(sc))
    traced, fp_traced = run_stream(spark, wl, os.path.join(workdir, "traced"),
                                   tracer)
    tracer.collect_stage_metrics(sc)

    assert [r.rows_read for r in traced] == [r.rows_read for r in plain]
    assert fp_traced["rows"] == fp_plain["rows"] > 0
    assert fp_traced["fingerprint"] == fp_plain["fingerprint"]
    assert sc.getLocalProperty("spark.jobGroup.id") == group_before
    m = tracer.metrics(JOB_LAYERS)
    assert m["engine.calls"] == len(traced) + 1  # the final empty plan
    assert m["evolve.calls"] >= 1 and m["prune.calls"] >= 1
    assert m["write.jobs"] >= 1 and m["quality.executor_cpu_ms"] > 0
    for owner, name, _ in targets():
        target = (owner.__dict__[name] if isinstance(owner, type)
                  else getattr(owner, name))
        assert not hasattr(target, "__wrapped__")


def test_oracle_matches_engine_mid_stream(spark, workdir):
    """Stopping mid-stream: the oracle replays only what was committed,
    on top of the seeded rows."""
    wl = small("trickle_mor", events_per_second=60)
    eng, events = engine_on(spark, wl, 5, workdir)
    for _ in range(2):
        assert not eng.run_batch().empty
    got = table_fingerprint(eng.table)
    visible = W.replay(wl, 5, events, eng.store.last_committed_watermarks(),
                       got["columns"])
    want = W.fingerprint(visible.values(), got["columns"])
    assert (got["rows"], got["fingerprint"]) == \
        (want["rows"], want["fingerprint"])
    # a wrong oracle is noticed: drop one visible row
    visible.pop(next(iter(visible)))
    assert W.fingerprint(visible.values(), got["columns"])["fingerprint"] \
        != got["fingerprint"]
