"""The benchmark's workloads: inputs, engine settings and replay oracle.

Every input is a pure function of (workload, seed, seconds), made here in
plain Python and written to parquet: the change-event stream and, for
``trickle_mor``, the rows the table is seeded with. The engine receives
only those files. Stream sizes scale with ``seconds``; the loop always
runs the whole stream, so every run of a workload and seed does identical
work. The oracle replays the same rows in plain Python, independently of
Spark and of the engine.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import time
import zlib
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from gobblin_spark.engine import CdcEngine
from gobblin_spark.operators.converters import (
    ArrowBatchConverter,
    Converter,
    ConverterChain,
)
from gobblin_spark.operators.quality import PolicyType, RowLevelPolicy

N_GROUPS = 8
N_BUCKETS = 16


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    events_per_second: int     # logical updates per --seconds of run time
    n_repos: int
    paths_per_repo: int
    content_tokens: int
    seed_rows: bool = False    # seed the whole keyspace before the stream
    schema_changes: tuple[float, ...] = ()  # stream fractions: v2, v3, v4
    convert_and_check: bool = False
    lookups_per_batch: int = 0  # interleaved with the write loop
    final_lookups: int = 0      # after the write loop


# Shared engine settings. 'auto' picks COW while a batch is at least
# AUTO_COW_RATIO of the table's rows, else MOR; a low log_keep_last makes
# commit-log checkpoints fire within a run. After the warm-up, 5 timed
# batches: trickle_mor's interleaved lookups then fall into an odd number
# of equal groups by files per bucket (3, 1, 2, 3, 1), so their median sits
# inside a group rather than on a boundary between two.
N_BATCHES = 6
AUTO_COW_RATIO = 0.75
COMPACT_EVERY = 3
LOG_KEEP_LAST = 2

WORKLOADS = {
    "trickle_mor": Workload(
        name="trickle_mor",
        why=("small auto->MOR batches on a seeded table, periodic compaction "
             "and point lookups after every batch: fixed per-batch cost and "
             "the read path"),
        events_per_second=600, n_repos=16, paths_per_repo=750,
        content_tokens=32, seed_rows=True, lookups_per_batch=50,
    ),
    "evolve_convert": Workload(
        name="evolve_convert",
        why=("schema v1->v4 mid-stream, an Arrow converter, three ERR_FILE "
             "row policies, COW then MOR batches: convert, quality, the "
             "JVM/Python boundary, bucket prune and rollup"),
        events_per_second=400, n_repos=40, paths_per_repo=1000,
        content_tokens=24, schema_changes=(0.3, 0.55, 0.8),
        convert_and_check=True, final_lookups=400,
    ),
}


# ----------------------------------------------------------------- inputs
LANGS = ("py", "java", "scala", "ts", "go", "rs", "md", "yaml")
DUP_FRAC = 0.05
DELETE_FRAC = 0.05
ROWS_PER_FILE = 2048
EVENT_SCHEMA = [("seq", "int64"), ("event_group", "int32"), ("op", "string"),
                ("repo", "string"), ("path", "string"),
                ("commit", "string"), ("lang", "string"),
                ("content", "string"), ("schema_version", "int32"),
                ("version", "int64"), ("size_bytes", "int64")]
SEED_SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
               ("lang", "string"), ("content", "string"),
               ("__seq", "int64"), ("__deleted", "bool")]


def _hex(*parts) -> str:
    return hashlib.sha256("|".join(map(str, parts)).encode()).hexdigest()


def _content(repo: str, path: str, version: int, tokens: int) -> str:
    text = "".join(_hex(repo, path, version, i)
                   for i in range(1, (tokens + 7) // 8 + 1))
    return " ".join(text[i:i + 8] for i in range(0, len(text), 8))


def make_events(wl: Workload, seed: int, n: int) -> list[dict[str, Any]]:
    """The change-event stream, in delivery (seq) order.

    ``n`` logical updates draw a key with Zipf-skewed repos and uniform
    paths; an update's version is its arrival rank for its key. Delivery
    jitters each update within an out-of-order window, and re-delivers a
    ``DUP_FRAC`` sample later with identical content. Versions after the
    first are deletes (null payload) with probability ``DELETE_FRAC``.
    ``op='S'`` markers switch the payload schema version at the fractions
    ``wl.schema_changes`` of the stream; ``size_bytes`` exists from v2 on."""
    rng = random.Random(seed)
    ooo = max(100, n // 200)
    versions: dict[tuple[str, str], int] = {}
    deliveries = []
    for i in range(n):
        key = (f"repo_{int(wl.n_repos * rng.random() ** 2):04d}",
               f"src/f{rng.randrange(wl.paths_per_repo)}.txt")
        versions[key] = v = versions.get(key, 0) + 1
        pos = i + rng.randint(-ooo, ooo)
        deliveries.append((pos, i, key, v))
        if rng.random() < DUP_FRAC:
            deliveries.append((pos + rng.randrange(3 * ooo) + 0.5, i, key, v))
    deliveries.sort(key=lambda d: (d[0], d[1]))
    total = len(deliveries) + len(wl.schema_changes)
    marks = {int(total * frac): ver
             for ver, frac in enumerate(wl.schema_changes, start=2)}
    rows: list[dict[str, Any]] = []
    sv = 1
    for _, _, (repo, path), v in deliveries:
        if len(rows) in marks:
            sv = marks[len(rows)]
            rows.append({"seq": len(rows), "event_group": 0, "op": "S",
                         "schema_version": sv, "version": 0})
        deleted = v > 1 and (int(_hex(seed, repo, path, v)[:8], 16)
                             < DELETE_FRAC * (1 << 32))
        row = {"seq": len(rows),
               "event_group": zlib.crc32(f"{repo}|{path}".encode()) % N_GROUPS,
               "op": "D" if deleted else ("I" if v == 1 else "U"),
               "repo": repo, "path": path, "schema_version": sv,
               "version": v}
        if not deleted:
            content = _content(repo, path, v, wl.content_tokens)
            row.update(commit=_hex(repo, path, v)[:40],
                       lang=LANGS[zlib.crc32(f"{repo}{path}".encode())
                                  % len(LANGS)],
                       content=content,
                       size_bytes=len(content) if sv >= 2 else None)
        rows.append(row)
    return rows


def seed_rows(wl: Workload, seed: int) -> list[dict[str, Any]]:
    """The whole keyspace as v1 rows at seq -1: every event outranks them."""
    rows = []
    words = max(1, wl.content_tokens // 8)
    for i in range(wl.n_repos * wl.paths_per_repo):
        repo = f"repo_{i % wl.n_repos:04d}"
        path = f"src/f{i // wl.n_repos}.txt"
        digest = _hex(repo, path, f"seed{seed}")
        rows.append({"repo": repo, "path": path, "commit": digest[:40],
                     "lang": LANGS[int(digest[:8], 16) % len(LANGS)],
                     "content": " ".join(_hex(digest, j)
                                         for j in range(words)),
                     "__seq": -1, "__deleted": False})
    return rows


def write_parquet(rows: list[dict[str, Any]], schema: list, path: str) -> None:
    """Write rows as parquet files of ROWS_PER_FILE consecutive rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    arrow_schema = pa.schema(schema)
    for k in range(0, len(rows), ROWS_PER_FILE):
        pq.write_table(
            pa.Table.from_pylist(rows[k:k + ROWS_PER_FILE],
                                 schema=arrow_schema),
            os.path.join(path, f"part-{k // ROWS_PER_FILE:05d}.parquet"))


def read_frame(spark: SparkSession, schema: list, path: str) -> DataFrame:
    """Read files written by ``write_parquet`` with their known schema
    (no schema-inference job)."""
    sql_type = {"int64": "BIGINT", "int32": "INT", "string": "STRING",
                "bool": "BOOLEAN"}
    ddl = ", ".join(f"`{name}` {sql_type[t]}" for name, t in schema)
    return spark.read.schema(ddl).parquet(path)


def read_events(path: str) -> list[dict[str, Any]]:
    """The events written to ``path``, in seq order."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path).to_pylist()
    rows.sort(key=lambda r: r["seq"])
    return rows


# ------------------------------------------------------ converter + checks
def upper_commit(batch):
    """The benchmark's Arrow converter: upper-case the commit hash."""
    import pyarrow as pa
    import pyarrow.compute as pc

    i = batch.schema.get_field_index("commit")
    cols = list(batch.columns)
    cols[i] = pc.utf8_upper(cols[i])
    return pa.RecordBatch.from_arrays(cols, schema=batch.schema)


class CountingArrowConverter(Converter):
    """``ArrowBatchConverter`` over ``upper_commit``, built per batch with
    the output schema of that batch's target version (the first batches
    have no ``size_bytes``). Accumulators count Arrow batches, rows and
    milliseconds spent inside the function on the executors."""

    def __init__(self, sc):
        self.batches = sc.accumulator(0)
        self.rows = sc.accumulator(0)
        self.fn_ms = sc.accumulator(0.0)

    def convert(self, df: DataFrame) -> DataFrame:
        batches, rows, fn_ms = self.batches, self.rows, self.fn_ms

        def counted(batch):
            t0 = time.perf_counter()
            out = upper_commit(batch)
            fn_ms.add((time.perf_counter() - t0) * 1000.0)
            batches.add(1)
            rows.add(batch.num_rows)
            return out

        return ArrowBatchConverter(
            fn=counted, out_schema_ddl=df.schema.simpleString()).convert(df)


# Each policy quarantines a small share of rows; as SQL for the engine and
# as Python for the oracle. A null value passes.
POLICIES = {
    "commit_not_00": ("NOT startswith(commit, '00')",
                      lambda r: not (r.get("commit") or "").startswith("00")),
    "content_not_ff": ("NOT startswith(content, 'ff')",
                       lambda r: not (r.get("content") or "").startswith("ff")),
    "path_not_97": ("NOT endswith(path, '97.txt')",
                    lambda r: not r["path"].endswith("97.txt")),
}


def row_policies() -> list[RowLevelPolicy]:
    import pyspark.sql.functions as F

    return [RowLevelPolicy(name, F.coalesce(F.expr(sql), F.lit(True)),
                           PolicyType.ERR_FILE)
            for name, (sql, _) in POLICIES.items()]


# ------------------------------------------------------------------ engine
def make_engine(spark: SparkSession, wl: Workload, events: DataFrame,
                n_events: int, table_root: str, state_root: str,
                err_path: str) -> tuple[CdcEngine, CountingArrowConverter | None]:
    conv = None
    kwargs: dict[str, Any] = {}
    if wl.convert_and_check:
        conv = CountingArrowConverter(spark.sparkContext)
        kwargs = dict(converters=ConverterChain([conv]),
                      row_policies=row_policies(), err_path=err_path,
                      plan_partitioning=True)
    eng = CdcEngine(
        spark, events, table_root=table_root, state_root=state_root,
        max_records_per_batch=math.ceil(n_events / N_BATCHES),
        n_buckets=N_BUCKETS, merge_mode="auto",
        auto_cow_ratio=AUTO_COW_RATIO, compact_every=COMPACT_EVERY,
        compact_delta_ratio=None, log_keep_last=LOG_KEEP_LAST, **kwargs)
    return eng, conv


def make_inputs(spark: SparkSession, wl: Workload, seed: int, seconds: int,
                events_path: str, template: str) -> int:
    """Write the event stream to ``events_path`` and, for a seeded
    workload, create the engine's table and state under ``template`` and
    overwrite the table with the seed rows. Returns the number of events."""
    events = make_events(wl, seed, wl.events_per_second * max(1, seconds))
    write_parquet(events, EVENT_SCHEMA, events_path)
    if wl.seed_rows:
        rows_path = os.path.join(template, "seed_rows")
        write_parquet(seed_rows(wl, seed), SEED_SCHEMA, rows_path)
        eng = CdcEngine(spark, lambda: None,
                        table_root=os.path.join(template, "table"),
                        state_root=os.path.join(template, "state"),
                        n_buckets=N_BUCKETS)
        eng.table.overwrite(read_frame(spark, SEED_SCHEMA, rows_path),
                            seq_col="__seq")
    return len(events)


# ------------------------------------------------------------------ oracle
def replay(wl: Workload, seed: int, events: list[dict[str, Any]],
           watermarks: dict[int, int], columns: list[str]
           ) -> dict[tuple[str, str], dict[str, Any]]:
    """Visible rows after the applied prefix of the stream (each group up
    to its committed watermark), last writer by seq wins, deletes hide
    the key. With ``convert_and_check`` the converter and the row
    policies apply first. ``columns`` are the table's visible columns,
    which tell how far schema evolution got (``size_bytes`` added,
    ``lang`` renamed to ``language``)."""
    state: dict[tuple[str, str], dict[str, Any]] = {}
    if wl.seed_rows:
        for r in seed_rows(wl, seed):
            state[(r["repo"], r["path"])] = dict(r, op="I", size_bytes=None)
    for e in events:  # in seq order
        if e["op"] not in ("I", "U", "D") or \
                e["seq"] > watermarks.get(e["event_group"], -1):
            continue
        if wl.convert_and_check:
            e = dict(e, commit=e.get("commit") and e["commit"].upper())
            if not all(ok(e) for _, ok in POLICIES.values()):
                continue
        state[(e["repo"], e["path"])] = e
    return {k: {c: e.get("lang" if c == "language" else c) for c in columns}
            for k, e in state.items() if e["op"] != "D"}


def fingerprint(rows, columns: list[str]) -> dict[str, Any]:
    """``table_fingerprint``'s sha256 digest, computed in Python: per row,
    sha256 over the concatenated sha256 hex digests of each column's
    string form (sorted column order, NULL as 64 'n'), first 12 hex
    digits as an integer, summed over rows."""
    total = 0
    n = 0
    cols = sorted(columns)
    for row in rows:
        canon = "".join(
            "n" * 64 if row[c] is None
            else hashlib.sha256(str(row[c]).encode()).hexdigest()
            for c in cols)
        total += int(hashlib.sha256(canon.encode()).hexdigest()[:12], 16)
        n += 1
    return {"rows": n, "fingerprint": str(total)}


# ----------------------------------------------------------------- lookups
def lookup_keys(wl: Workload, seed: int, n: int) -> list[dict[str, str]]:
    """Seeded-random keys, uniform over the workload's keyspace."""
    rng = random.Random(seed * 7919 + n)
    return [{"repo": f"repo_{rng.randrange(wl.n_repos):04d}",
             "path": f"src/f{rng.randrange(wl.paths_per_repo)}.txt"}
            for _ in range(n)]
