"""The closed loop that drives the engine, and the run's checks."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable, Iterator

SETUP_REPS = 3
CHECK_LOOKUPS = 24


@dataclass
class Leg:
    """One engine driven through the closed loop. ``activate`` and
    ``deactivate`` bracket each of its steps (e.g. to install a tracer)."""

    eng: Any
    lookup_fn: Callable
    activate: Callable[[], None] = lambda: None
    deactivate: Callable[[], None] = lambda: None
    on_timed_start: Callable[[], None] = lambda: None
    after_batch: Callable[[Any], None] = lambda r: None

    @contextmanager
    def active(self) -> Iterator[None]:
        self.activate()
        try:
            yield
        finally:
            self.deactivate()


class Run:
    """One workload run: setup, closed loop, checks. Counts every batch,
    lookup and check as attempted, and each that raised or disagreed with
    the oracle as failed."""

    def __init__(self, spark, wl, seed: int, seconds: int, work: str):
        self.spark = spark
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    # ------------------------------------------------------------ setup
    def setup(self) -> float:
        """Make the inputs (and seed the table) SETUP_REPS times and
        return the median wall time; the last repetition is the input."""
        from perfbench import workloads as W

        times = []
        self.events_path = os.path.join(self.work, "events")
        self.template = os.path.join(self.work, "template")
        for _ in range(SETUP_REPS):
            shutil.rmtree(self.template, ignore_errors=True)
            t0 = time.perf_counter()
            self.n_events = W.make_inputs(self.spark, self.wl, self.seed,
                                          self.seconds, self.events_path,
                                          self.template)
            times.append(time.perf_counter() - t0)
        self.setup_times = times
        return statistics.median(times)

    def fresh_engine(self, name: str):
        """An engine on a fresh copy of the set-up table and state."""
        from perfbench import workloads as W

        root = os.path.join(self.work, name)
        if self.wl.seed_rows:
            shutil.copytree(self.template, root)
        eng, conv = W.make_engine(
            self.spark, self.wl,
            W.read_frame(self.spark, W.EVENT_SCHEMA, self.events_path),
            self.n_events,
            os.path.join(root, "table"), os.path.join(root, "state"),
            os.path.join(root, "err"))
        return eng, conv, root

    # ------------------------------------------------------------- loop
    def lookup(self, eng, key, lookup_fn, latencies: list[float]) -> None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            lookup_fn(eng.table, key)
        except Exception as exc:  # a failed lookup is counted, not fatal
            self.fail(f"lookup {key}: {exc!r}")
            return
        latencies.append((time.perf_counter() - t0) * 1000.0)

    def loop(self, legs: list[Leg]) -> list[dict]:
        """Per leg, one untimed warm-up batch; then the closed loop over
        the rest of the stream: a leg's next batch starts when its previous
        one (and its lookups) returned. With two legs the batches
        alternate, in swapped order every round, so both see the same JVM
        and host; a leg's ``wall_s`` sums its own steps. ``lookup_ms``
        holds the interleaved lookups, else lookups made after the loop,
        outside ``wall_s``."""
        from perfbench import workloads as W

        keys = W.lookup_keys(self.wl, self.seed, 4096)
        per_batch = self.wl.lookups_per_batch
        out = []
        for leg in legs:
            with leg.active():
                warm = leg.eng.run_batch()
                for k in range(per_batch):
                    leg.lookup_fn(leg.eng.table, keys[k])
                leg.on_timed_start()
            out.append({"wall_s": 0.0, "applied": 0, "batch_s": [],
                        "lookup_ms": [], "phase_ms": [],
                        "warmup_rows": warm.rows_read,
                        "warmup_phase_ms": warm.phase_ms})
        live = list(zip(legs, out))
        cap = max(60.0, 6.0 * self.seconds)  # bound a pathological run
        t_loop = time.perf_counter()
        while live and time.perf_counter() - t_loop < cap:
            for leg, res in list(live):
                with leg.active():
                    t0 = time.perf_counter()
                    if not self.step(leg, res, keys):
                        live.remove((leg, res))
                    res["wall_s"] += time.perf_counter() - t0
            live.reverse()
        for leg, res in zip(legs, out):
            if not per_batch:
                with leg.active():
                    for key in W.lookup_keys(self.wl, self.seed + 1,
                                             self.wl.final_lookups):
                        self.lookup(leg.eng, key, leg.lookup_fn,
                                    res["lookup_ms"])
        return out

    def step(self, leg: Leg, res: dict, keys: list) -> bool:
        """One batch of a leg and its lookups; False once the leg is done."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            r = leg.eng.run_batch()
        except Exception as exc:  # counted and reported; ends the leg
            self.fail(f"batch: {exc!r}")
            return False
        if r.empty:
            self.attempted -= 1
            return False
        res["batch_s"].append(time.perf_counter() - t0)
        res["phase_ms"].append(r.phase_ms)
        res["applied"] += r.rows_read
        per_batch = self.wl.lookups_per_batch
        first = len(res["batch_s"]) * per_batch
        for key in keys[first:first + per_batch]:
            self.lookup(leg.eng, key, leg.lookup_fn, res["lookup_ms"])
        leg.after_batch(r)
        return True

    # ----------------------------------------------------------- checks
    def check(self, eng) -> dict:
        """Final visible state vs the replay oracle by content
        fingerprint, then driver-local lookups of sampled keys vs the
        oracle's rows (skipping lookups that fall back to Spark)."""
        from gobblin_spark.lakehouse.merge import table_fingerprint
        from gobblin_spark.lakehouse.pointread import (
            FALLBACK,
            point_lookup_local,
        )
        from perfbench import workloads as W

        got = table_fingerprint(eng.table)
        cols = got["columns"]
        visible = W.replay(self.wl, self.seed,
                           W.read_events(self.events_path),
                           eng.store.last_committed_watermarks(), cols)
        want = W.fingerprint(visible.values(), cols)
        self.attempted += 1
        ok = (got["rows"], got["fingerprint"]) == \
            (want["rows"], want["fingerprint"])
        if not ok:
            self.fail(f"fingerprint: table {got['rows']} rows "
                      f"{got['fingerprint']} != oracle {want['rows']} rows "
                      f"{want['fingerprint']}")
        checked = 0
        for key in W.lookup_keys(self.wl, self.seed + 2, CHECK_LOOKUPS):
            row = point_lookup_local(eng.table, key)
            if row is FALLBACK:
                continue
            checked += 1
            self.attempted += 1
            exp = visible.get((key["repo"], key["path"]))
            got_row = None if row is None else {c: row.get(c) for c in cols}
            if got_row != exp:
                self.fail(f"lookup {key}: {got_row} != {exp}")
        return {"table": got, "oracle": want, "lookups_checked": checked,
                "fingerprint_ok": ok}

    @staticmethod
    def summary(res: dict) -> dict:
        """A loop result for the report, with lookups as a count."""
        out = dict(res)
        out["lookups"] = len(out.pop("lookup_ms"))
        return out

    @staticmethod
    def table_shape(eng, visible_rows: int) -> dict:
        snap = eng.table.snapshot()
        return {"files": len(snap.files),
                "manifest_rows": sum(f.rows for f in snap.files),
                "bytes": sum(f.bytes for f in snap.files),
                "visible_rows": visible_rows}
