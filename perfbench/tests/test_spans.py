"""Span arithmetic, job-group restore and patch targets (no Spark)."""

import pytest

from perfbench.spans import GROUP_PREFIX, JobGroups, Tracer


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


class FakeSparkContext:
    """Thread-local properties as SparkContext keeps them."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, description, interruptOnCancel=False):
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = description
        self.props["spark.job.interruptOnCancel"] = str(interruptOnCancel)


def test_self_time_subtracts_nested_children():
    clock = FakeClock()
    t = Tracer(clock=clock)
    with t.span("compact"):
        clock.now += 1.0
        with t.span("write"):
            clock.now += 2.0
            with t.span("publish"):
                clock.now += 0.5
            clock.now += 0.25
        clock.now += 1.0
        with t.span("publish"):
            clock.now += 0.75
    m = t.metrics(set())
    assert m["compact.wall_s"] == pytest.approx(5.5)
    assert m["compact.self_s"] == pytest.approx(2.0)
    assert m["write.wall_s"] == pytest.approx(2.75)
    assert m["write.self_s"] == pytest.approx(2.25)
    assert m["publish.wall_s"] == pytest.approx(1.25)
    assert m["publish.self_s"] == pytest.approx(1.25)
    assert m["publish.calls"] == 2
    # self times of all layers add up to the outermost span
    assert sum(v for k, v in m.items() if k.endswith(".self_s")) == \
        pytest.approx(m["compact.wall_s"])


def test_reentered_layer_counts_wall_once():
    clock = FakeClock()
    t = Tracer(clock=clock)
    with t.span("snapshot"):
        clock.now += 1.0
        with t.span("snapshot"):
            clock.now += 1.0
    m = t.metrics(set())
    assert m["snapshot.wall_s"] == pytest.approx(2.0)
    assert m["snapshot.self_s"] == pytest.approx(2.0)
    assert m["snapshot.calls"] == 2


def test_span_time_survives_an_exception():
    clock = FakeClock()
    t = Tracer(clock=clock)
    with pytest.raises(ValueError):
        with t.span("engine"):
            clock.now += 1.0
            raise ValueError
    assert t.metrics(set())["engine.wall_s"] == pytest.approx(1.0)


class Target:
    def outer(self, t_sc, seen):
        seen.append(t_sc.getLocalProperty("spark.jobGroup.id"))
        self.inner(t_sc, seen)
        seen.append(t_sc.getLocalProperty("spark.jobGroup.id"))

    def inner(self, t_sc, seen):
        seen.append(t_sc.getLocalProperty("spark.jobGroup.id"))


def test_job_group_is_restored_after_nested_wrapped_calls():
    sc = FakeSparkContext()
    sc.setJobGroup("caller", "the caller's group", True)
    before = dict(sc.props)
    t = Tracer(JobGroups(sc))
    t.patch(Target, "outer", "engine")
    t.patch(Target, "inner", "write")
    try:
        seen = []
        Target().outer(sc, seen)
    finally:
        t.unpatch_all()
    assert seen == [GROUP_PREFIX + "engine", GROUP_PREFIX + "write",
                    GROUP_PREFIX + "engine"]
    assert sc.props == before


def test_job_group_is_cleared_when_the_caller_had_none():
    sc = FakeSparkContext()
    t = Tracer(JobGroups(sc))
    with t.span("planner"):
        assert sc.getLocalProperty("spark.jobGroup.id") == \
            GROUP_PREFIX + "planner"
    assert sc.props == {}


def test_unpatch_restores_originals_and_staticmethods():
    class Owner:
        @staticmethod
        def pred(x):
            return x + 1

        def method(self):
            return 7

    orig_method = Owner.__dict__["method"]
    t = Tracer()
    t.patch(Owner, "pred", "planner")
    t.patch(Owner, "method", "engine")
    t.observe(Owner, "method", after=lambda r: None)
    assert Owner.pred(1) == 2 and Owner().method() == 7
    assert t.metrics(set())["planner.calls"] == 1
    t.unpatch_all()
    assert isinstance(Owner.__dict__["pred"], staticmethod)
    assert Owner.__dict__["method"] is orig_method


def test_wrappers_patch_the_names_engine_calls():
    """compact and evolve_target_to are looked up in engine.py's globals
    at call time; the tracer must replace them there, not in the modules
    that define them."""
    import gobblin_spark.engine as engine_mod
    import gobblin_spark.lakehouse.merge as merge_mod
    from perfbench.traced import targets

    run_batch = engine_mod.CdcEngine.run_batch
    for name in ("compact", "evolve_target_to"):
        assert name in run_batch.__code__.co_names
    t = Tracer()
    for owner, name, layer in targets():
        t.patch(owner, name, layer)
    try:
        assert run_batch.__globals__["compact"].__wrapped__ is \
            merge_mod.compact
        assert engine_mod.compact is not merge_mod.compact
        assert engine_mod.evolve_target_to.__name__ == "evolve_target_to"
        assert engine_mod.evolve_target_to is not \
            engine_mod.evolve_target_to.__wrapped__
    finally:
        t.unpatch_all()
    assert engine_mod.compact is merge_mod.compact
    for owner, name, _ in targets():
        target = (owner.__dict__[name] if isinstance(owner, type)
                  else getattr(owner, name))
        assert not hasattr(target, "__wrapped__"), (owner, name)
