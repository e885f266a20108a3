"""Secondary-predicate file skipping (DataFile.value_stats blooms):
manifest-level bloom filters on configured non-key columns, built in the
same executor-side stats pass as key_bounds, probed driver-side with the
bit-exact Python xxhash64 twin — a planning-time skip for equality
predicates Spark's scan could only push to footers after opening them."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gobblin_spark.lakehouse import LakeTable, merge_lww
from gobblin_spark.lakehouse.merge import (
    compact,
    merge_lww_mor,
    read_current,
)
from gobblin_spark.lakehouse.table import (
    bloom_may_contain,
    bloom_position_exprs,
    bloom_positions_py,
)

SCHEMA = StructType([
    StructField("repo", StringType()),
    StructField("path", StringType()),
    StructField("commit", StringType()),
    StructField("lang", StringType()),
    StructField("__seq", LongType()),
    StructField("__deleted", BooleanType()),
])
KEYS = ["repo", "path"]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, ["seq", "op", "repo", "path", "commit", "lang"])


def _rows(n, lang="python", commit="c1", start=0):
    return [(start + i, "U", f"r{i % 10}", f"p{start + i}", commit, lang)
            for i in range(n)]


def _new(spark, root, **kw):
    kw.setdefault("stats_cols", ["lang"])
    return LakeTable.create(spark, root, SCHEMA, KEYS, n_buckets=8, **kw)


def test_bloom_position_parity_spark_vs_python(spark):
    """The executor-side position expressions and the driver-side Python
    probe must agree bit-exactly for every supported type."""
    m = 8192
    df = spark.createDataFrame(
        [("python", 7), ("rust", -3), ("", 2**40), ("zig", 0)],
        ["s", "i"])
    for col, int_size in (("s", 64), ("i", 64)):
        e1, e2 = bloom_position_exprs(col, m)
        got = df.selectExpr(col, e1 + " AS p1", e2 + " AS p2").collect()
        for r in got:
            assert bloom_positions_py(r[col], m, int_size=int_size) == \
                [r["p1"], r["p2"]]


def test_value_eq_skips_files_and_matches_full_filter(spark, tmp_table_dir):
    t = _new(spark, tmp_table_dir + "/t")
    # common value everywhere + ONE rare value in one key
    merge_lww(t, _batch(spark, _rows(400) +
                        [(9000, "U", "r3", "rare", "c9", "zig")]), KEYS)
    snap = t.snapshot()
    assert all(f.value_stats and "lang" in f.value_stats
               for f in snap.files), "writes must record value_stats"

    counts = []
    orig = LakeTable.read_file_set

    def spy(self, files, s=None):
        counts.append(len(files))
        return orig(self, files, s)

    LakeTable.read_file_set = spy
    try:
        rare = read_current(t, value_eq={"lang": "zig"}).collect()
        n_rare = counts[-1]
        full = read_current(t).filter(F.col("lang") == "zig").collect()
        n_full = counts[-1]
    finally:
        LakeTable.read_file_set = orig
    assert sorted(map(tuple, rare)) == sorted(map(tuple, full))
    assert len(rare) == 1 and rare[0]["path"] == "rare"
    assert n_rare < n_full, (n_rare, n_full)

    # absent value: every file skipped, result empty (and correct)
    LakeTable.read_file_set = spy
    try:
        assert read_current(t, value_eq={"lang": "cobol"}).count() == 0
        assert counts[-1] == 0
    finally:
        LakeTable.read_file_set = orig


def test_value_eq_is_sound_across_unresolved_mor_deltas(
        spark, tmp_table_dir):
    """A key updated python→rust in an unfolded delta: pre-fold file
    skipping would resurrect the python row; the gated read must not."""
    t = _new(spark, tmp_table_dir + "/t")
    merge_lww(t, _batch(spark, _rows(50, lang="python")), KEYS)
    # delta flips ONE key to rust (delta file contains no python rows)
    merge_lww_mor(t, _batch(
        spark, [(8000, "U", "r0", "p0", "c2", "rust")]), KEYS)

    py = read_current(t, value_eq={"lang": "python"}).collect()
    assert all(r["path"] != "p0" for r in py)
    rs = read_current(t, value_eq={"lang": "rust"}).collect()
    assert [r["path"] for r in rs] == ["p0"] and rs[0]["commit"] == "c2"

    # compacted: skipping active again, same answers
    compact(t)
    assert int(t.snapshot().properties.get("mor_deltas", 0)) == 0
    py2 = read_current(t, value_eq={"lang": "python"}).collect()
    assert sorted(map(tuple, py2)) == sorted(map(tuple, py))
    rs2 = read_current(t, value_eq={"lang": "rust"}).collect()
    assert sorted(map(tuple, rs2)) == sorted(map(tuple, rs))


def test_tables_without_stats_cols_are_never_pruned(spark, tmp_table_dir):
    t = LakeTable.create(spark, tmp_table_dir + "/t", SCHEMA, KEYS,
                         n_buckets=4)
    merge_lww(t, _batch(spark, _rows(80)), KEYS)
    assert all(f.value_stats is None for f in t.snapshot().files)
    got = read_current(t, value_eq={"lang": "python"}).count()
    assert got == 80  # row filter applies, no file skipped, no crash
    with pytest.raises(ValueError, match="not in schema"):
        read_current(t, value_eq={"nope": 1}).count()


def test_stats_cols_validation(spark, tmp_table_dir):
    with pytest.raises(ValueError, match="stats_cols"):
        LakeTable.create(spark, tmp_table_dir + "/a", SCHEMA, KEYS,
                         stats_cols=["nope"])
    with pytest.raises(ValueError, match="multiple of 8"):
        LakeTable.create(spark, tmp_table_dir + "/b", SCHEMA, KEYS,
                         stats_cols=["lang"], stats_bloom_bits=100)


def test_bloom_soundness_every_value_in_file_hits(spark, tmp_table_dir):
    """No false negatives: every value actually present in a file must
    pass its bloom (the property that makes skipping a sound superset)."""
    t = _new(spark, tmp_table_dir + "/t")
    langs = ["python", "rust", "go", "java", "c", None]
    rows = [(i, "U", f"r{i % 5}", f"p{i}", "c", langs[i % len(langs)])
            for i in range(120)]
    merge_lww(t, _batch(spark, rows), KEYS)
    snap = t.snapshot()
    for f in snap.files:
        ent = f.value_stats["lang"]
        vals = {
            r["lang"]
            for r in spark.read.parquet(t.root + "/" + f.path)
            .select("lang").collect()
        }
        for v in vals:
            if v is None:
                continue
            assert bloom_may_contain(
                ent["b"], bloom_positions_py(v, int(ent["m"])))


def test_typed_stats_col_with_string_probe(spark, tmp_table_dir):
    """CLI probes arrive as strings; a bloom on an integer column must
    coerce the probe before hashing (a string-hashed probe would wrongly
    skip every file) — and uncoercible probes must never prune."""
    from pyspark.sql.types import IntegerType

    schema = StructType([
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("stars", LongType()),
        StructField("flag", BooleanType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ])
    t = LakeTable.create(spark, tmp_table_dir + "/t", schema, KEYS,
                         n_buckets=4, stats_cols=["stars", "flag"])
    rows = [(i, "U", f"r{i % 3}", f"p{i}", "c", i % 7, i % 2 == 0)
            for i in range(80)]
    merge_lww(t, spark.createDataFrame(
        rows, ["seq", "op", "repo", "path", "commit", "stars", "flag"]),
        KEYS)

    # string probe against a long column: must match the typed probe
    for probe in (5, "5"):
        got = read_current(t, value_eq={"stars": probe}).count()
        assert got == sum(1 for i in range(80) if i % 7 == 5), probe
    for probe in (True, "true"):
        got = read_current(t, value_eq={"flag": probe}).count()
        assert got == 40, probe
    # uncoercible probe: RAISES (was silent-empty pre-round-5) — a string
    # that cannot be the column's type can never match, and a predicate
    # that silently matches nothing is how `delete --where` reports
    # deleted:0 success over a typo'd value
    with pytest.raises(ValueError, match="cannot be coerced"):
        read_current(t, value_eq={"stars": "not-a-number"}).count()

    # unsupported stats-col types refused at create
    from pyspark.sql.types import DoubleType
    bad = StructType(list(schema.fields)
                     + [StructField("score", DoubleType())])
    with pytest.raises(ValueError, match="string/integer/boolean"):
        LakeTable.create(spark, tmp_table_dir + "/bad", bad, KEYS,
                         stats_cols=["score"])


# ---------------------------------------------------------------- ranges
# Range predicates over the per-file [min,max] value bounds recorded in
# the same stats pass as the blooms (DataFile.value_bounds): the skip a
# bloom structurally cannot provide.


def test_value_range_file_skipping_on_disjoint_appends(spark, tmp_table_dir):
    """Two appends with disjoint value ranges -> files from the
    out-of-range append are skipped at planning time; results equal the
    full-scan filter."""
    t = _new(spark, tmp_table_dir + "/t")
    lo_rows = [(i, "U", f"r{i}", f"p{i}", "c1", f"aaa{i}", False)
               for i in range(40)]
    hi_rows = [(100 + i, "U", f"s{i}", f"q{i}", "c1", f"zzz{i}", False)
               for i in range(40)]
    cols = ["__seq", "op", "repo", "path", "commit", "lang", "__deleted"]
    for rows in (lo_rows, hi_rows):
        t.append(spark.createDataFrame(rows, cols)
                 .select("repo", "path", "commit", "lang", "__seq",
                         "__deleted"))
    snap = t.snapshot()
    assert all(f.value_bounds and "lang" in f.value_bounds
               for f in snap.files)

    counts = []
    orig = LakeTable.read_file_set

    def spy(self, files, s=None):
        counts.append(len(files))
        return orig(self, files, s)

    LakeTable.read_file_set = spy
    try:
        iv = {"lang": {"lo": "zz", "hi": None,
                       "lo_strict": False, "hi_strict": False}}
        got = t.read(value_range=iv).collect()
        n_pruned = counts[-1]
        full = t.read().filter(F.col("lang") >= "zz").collect()
        n_full = counts[-1]
    finally:
        LakeTable.read_file_set = orig
    assert sorted(r["path"] for r in got) == sorted(
        r["path"] for r in full) == sorted(f"q{i}" for i in range(40))
    assert n_pruned < n_full, (n_pruned, n_full)


def test_value_range_sound_across_unresolved_mor_deltas(
        spark, tmp_table_dir):
    """A delta moves a key's value INTO the probed range; the stale
    out-of-range base row must never be returned, and the new row must."""
    t = _new(spark, tmp_table_dir + "/t")
    merge_lww(t, _batch(spark, _rows(50, lang="mmm")), KEYS)
    merge_lww_mor(t, _batch(
        spark, [(8000, "U", "r0", "p0", "c2", "zzz")]), KEYS)

    iv = {"lang": {"lo": "t", "hi": None,
                   "lo_strict": False, "hi_strict": False}}
    hot = read_current(t, value_range=iv).collect()
    assert [r["path"] for r in hot] == ["p0"] and hot[0]["lang"] == "zzz"

    compact(t)
    hot2 = read_current(t, value_range=iv).collect()
    assert sorted(map(tuple, hot2)) == sorted(map(tuple, hot))


def test_value_range_unknown_column_raises_on_mor_delta_table(
        spark, tmp_table_dir):
    """With unresolved deltas read_current skips file pruning, so the
    row filter is the first to see the column name: a typo must raise the
    same ValueError as table.read, not a late Spark analysis error."""
    t = _new(spark, tmp_table_dir + "/t")
    merge_lww(t, _batch(spark, _rows(20)), KEYS)
    merge_lww_mor(t, _batch(
        spark, [(8000, "U", "r0", "p0", "c2", "zzz")]), KEYS)
    assert int(t.snapshot().properties.get("mor_deltas", 0)) > 0
    with pytest.raises(ValueError, match="'lnag' not in schema"):
        read_current(t, value_range={
            "lnag": {"lo": "a", "hi": None,
                     "lo_strict": False, "hi_strict": False}})


def test_value_range_between_strict_and_inclusive_int(spark, tmp_table_dir):
    """Integer stats column: BETWEEN with inclusive and strict bounds
    against a python-computed oracle."""
    schema = StructType([
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("size", LongType()),
        StructField("__seq", LongType()),
        StructField("__deleted", BooleanType()),
    ])
    t = LakeTable.create(spark, tmp_table_dir + "/t", schema, KEYS,
                         n_buckets=4, key_cols=KEYS, stats_cols=["size"])
    rows = [(f"r{i}", f"p{i}", i * 3, i, False) for i in range(60)]
    merge_lww(t, spark.createDataFrame(
        [(i, "U", r, p, s) for (r, p, s, i, _) in rows],
        ["seq", "op", "repo", "path", "size"]), KEYS)

    def q(lo, hi, los, his):
        iv = {"size": {"lo": lo, "hi": hi,
                       "lo_strict": los, "hi_strict": his}}
        return sorted(r["size"]
                      for r in read_current(t, value_range=iv).collect())

    allv = [i * 3 for i in range(60)]
    assert q(30, 60, False, False) == [v for v in allv if 30 <= v <= 60]
    assert q(30, 60, True, True) == [v for v in allv if 30 < v < 60]
    # CLI-string probes coerce to the column type
    assert q("30", "60", False, False) == [v for v in allv if 30 <= v <= 60]
    # one-sided
    assert q(None, 9, False, False) == [v for v in allv if v <= 9]
    # uncoercible string probe on an integer column raises, never
    # silently-empty
    with pytest.raises(ValueError, match="cannot be coerced"):
        read_current(t, value_range={
            "size": {"lo": "abc", "hi": None,
                     "lo_strict": False, "hi_strict": False}}).collect()
    # unknown column raises at planning time
    with pytest.raises(ValueError, match="not in schema"):
        t.read(value_range={"ghost": {"lo": 1, "hi": None,
                                      "lo_strict": False,
                                      "hi_strict": False}})


def test_value_range_legacy_files_without_bounds_are_kept(
        spark, tmp_table_dir):
    """Manifests written before value_bounds existed (or all-NULL files)
    must never be pruned."""
    t = _new(spark, tmp_table_dir + "/t")
    merge_lww(t, _batch(spark, _rows(30, lang="mmm")), KEYS)
    snap = t.snapshot()
    stripped = [
        type(f)(**{**f.to_json(), "value_bounds": None})
        for f in snap.files
    ]
    t.commit(keep_files=stripped, add_files=[],
             expected_version=snap.version)
    iv = {"lang": {"lo": "a", "hi": "z",
                   "lo_strict": False, "hi_strict": False}}
    assert read_current(t, value_range=iv).count() == 30


def test_export_where_range_cli(spark, tmp_table_dir):
    from gobblin_spark.cli import main as cli

    t = _new(spark, tmp_table_dir + "/t")
    merge_lww(t, _batch(spark, [
        (i, "U", f"r{i}", f"p{i}", "c1", lang)
        for i, lang in enumerate(["ada", "go", "rust", "zig"] * 5)
    ]), KEYS)
    rc = cli(["export", "--table", tmp_table_dir + "/t",
              "--out", tmp_table_dir + "/x", "--where", "lang>=go",
              "--where", "lang<rust", "--local-cores", "4"])
    assert rc == 0
    out = spark.read.parquet(tmp_table_dir + "/x")
    assert out.count() == 5 and \
        out.select("lang").distinct().collect()[0]["lang"] == "go"
    with pytest.raises(SystemExit, match="col=value"):
        cli(["export", "--table", tmp_table_dir + "/t",
             "--out", tmp_table_dir + "/y", "--where", "lang!!go",
             "--local-cores", "4"])


def test_parse_where_operator_must_precede_first_equals():
    """A comparison character inside an equality VALUE is part of the
    value; '>=' and '<=' still parse as range operators."""
    from gobblin_spark.cli import _parse_where

    assert _parse_where(["msg=a>b"]) == ({"msg": "a>b"}, {})
    assert _parse_where(["msg=x<=y"]) == ({"msg": "x<=y"}, {})
    eq, rng = _parse_where(["size>=10", "size<5"])
    assert eq == {}
    assert rng == {"size": {"lo": "10", "hi": "5",
                            "lo_strict": False, "hi_strict": True}}
