"""Zero-copy branches + write-audit-publish (LakeTable.create_branch /
fast_forward; ≙ Iceberg branch refs and the WAP pattern; the reference's
analog is speculative publish via staging dirs,
gobblin-core/src/main/java/gobblin/publisher/BaseDataPublisher.java:190-244,
done here at snapshot-metadata level).

Invariants under test:
- a fork is metadata-only (no data file is written or copied) and reads
  exactly the base snapshot;
- branch commits never move main; main commits never move the branch;
- fast_forward atomically publishes the branch head as main's next version
  and REFUSES if main advanced since the fork (the audited state would no
  longer describe main+branch);
- WAP convergence: ingest-into-branch + publish is fingerprint-identical
  to having ingested into main directly;
- vacuum treats branch histories as live; drop_branch releases a branch's
  exclusive files to the next vacuum without touching main's.
"""

import json
import shutil

import pytest

from gobblin_spark.engine import CdcEngine
from gobblin_spark.lakehouse import LakeTable
from gobblin_spark.lakehouse.merge import read_current, table_fingerprint
from gobblin_spark.lakehouse.table import ConcurrentCommitError
from gobblin_spark.sources import generate_change_events


def _fp(t, version=None):
    return {k: v for k, v in table_fingerprint(t, version=version).items()
            if k != "version"}


def _events(spark, d, n=3000):
    generate_change_events(
        spark, n, n_repos=10, paths_per_repo=50,
        dup_frac=0.05, delete_frac=0.08, ooo_window=150,
    ).write.parquet(d + "/events")
    return spark.read.parquet(d + "/events")


def _split_events(ev):
    import pyspark.sql.functions as F

    mid = ev.agg(F.expr("percentile_approx(seq, 0.5)")).first()[0]
    return ev.filter(F.col("seq") <= mid), ev


def test_branch_fork_zero_copy_and_isolation(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = _events(spark, d)
    first, _ = _split_events(ev)
    CdcEngine(spark, first, d + "/t", d + "/s",
              max_records_per_batch=100000, n_buckets=4).run_until_caught_up()
    main = LakeTable(spark, d + "/t")
    base_v = main.current_version()
    base_fp = _fp(main)
    files_before = {f.path for f in main.snapshot().files}

    b = main.create_branch("audit")
    assert main.branches() == {"audit": base_v}
    # zero-copy: the fork references the SAME data files, byte-for-byte
    assert {f.path for f in b.snapshot().files} == files_before
    assert _fp(b) == base_fp

    # branch commits are invisible to main (and vice versa)
    eng = CdcEngine(spark, ev, d + "/t", d + "/s2",
                    max_records_per_batch=100000, n_buckets=4,
                    branch="audit")
    eng.run_until_caught_up()
    assert main.current_version() == base_v
    assert _fp(main) == base_fp
    assert _fp(eng.table) != base_fp
    # main-side commit after the fork does not move the branch
    main.set_tag("pre-fork-pin", base_v)
    assert eng.table.current_version() > base_v


def test_wap_publish_converges_to_direct_ingest(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = _events(spark, d)
    first, full = _split_events(ev)

    # twin: everything ingested straight into main
    CdcEngine(spark, full, d + "/twin", d + "/twin_s",
              max_records_per_batch=100000, n_buckets=4).run_until_caught_up()
    want = _fp(LakeTable(spark, d + "/twin"))

    # WAP: half into main, rest into a branch (resuming the main ingest's
    # checkpoint via a state copy), audit, then publish
    CdcEngine(spark, first, d + "/t", d + "/s",
              max_records_per_batch=100000, n_buckets=4).run_until_caught_up()
    main = LakeTable(spark, d + "/t")
    base_v = main.current_version()
    shutil.copytree(d + "/s", d + "/s_branch")
    eng = CdcEngine(spark, full, d + "/t", d + "/s_branch",
                    max_records_per_batch=100000, n_buckets=4,
                    branch="audit")
    eng.run_until_caught_up()

    # audit on the branch: the full-replay fingerprint, before main sees it
    assert _fp(eng.table) == want
    assert _fp(main) != want

    snap = main.fast_forward("audit")
    assert snap.version == base_v + 1
    assert snap.parent == base_v
    assert snap.properties["published_from_branch"] == "audit"
    assert _fp(main) == want
    # audit history stays browsable on the branch until dropped
    assert main.branch("audit").current_version() >= base_v + 1
    main.drop_branch("audit")
    assert main.branches() == {}
    assert _fp(main) == want


def test_fast_forward_refuses_diverged_main(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = _events(spark, d, n=1200)
    first, full = _split_events(ev)
    CdcEngine(spark, first, d + "/t", d + "/s",
              max_records_per_batch=100000, n_buckets=4).run_until_caught_up()
    main = LakeTable(spark, d + "/t")
    main.create_branch("audit")
    shutil.copytree(d + "/s", d + "/s_b")
    CdcEngine(spark, full, d + "/t", d + "/s_b",
              max_records_per_batch=100000, n_buckets=4,
              branch="audit").run_until_caught_up()

    # main advances past the fork base -> the audited state is stale
    from gobblin_spark.lakehouse.merge import delete_where

    delete_where(main, {"lang": "py"})
    with pytest.raises(ConcurrentCommitError, match="main advanced|main is"):
        main.fast_forward("audit")

    # re-fork at the new head and re-audit (fresh state root: a full
    # replay over the fork image is idempotent under LWW) -> publish lands
    main.drop_branch("audit")
    main.create_branch("audit2")
    CdcEngine(spark, full, d + "/t", d + "/s_b2",
              max_records_per_batch=100000, n_buckets=4,
              branch="audit2").run_until_caught_up()
    main.fast_forward("audit2")

    # a branch with no commits beyond its fork has nothing to publish
    main.create_branch("empty")
    with pytest.raises(ValueError, match="no commits beyond"):
        main.fast_forward("empty")


def test_vacuum_branch_aware_and_drop_reclaims(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = _events(spark, d, n=1500)
    first, full = _split_events(ev)
    CdcEngine(spark, first, d + "/t", d + "/s",
              max_records_per_batch=100000, n_buckets=4).run_until_caught_up()
    main = LakeTable(spark, d + "/t")
    main.expire_snapshots(keep_last=1)
    assert main.vacuum() >= 0  # settle pre-existing orphans
    want_main = _fp(main)

    main.create_branch("audit")
    shutil.copytree(d + "/s", d + "/s_b")
    eng = CdcEngine(spark, full, d + "/t", d + "/s_b",
                    max_records_per_batch=100000, n_buckets=4,
                    branch="audit")
    eng.run_until_caught_up()
    want_branch = _fp(eng.table)

    # branch-exclusive files are LIVE while the branch exists
    assert main.vacuum() == 0
    assert _fp(main.branch("audit")) == want_branch
    assert _fp(main) == want_main

    # dropping the branch releases its exclusive files; main is untouched
    main.drop_branch("audit")
    assert main.vacuum() > 0
    assert _fp(main) == want_main
    # vacuum refuses to run on a branch handle (it is table-wide)
    main.create_branch("b2")
    with pytest.raises(ValueError, match="main table handle"):
        main.branch("b2").vacuum()


def test_branch_mor_compact_expire_on_branch_chain(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = _events(spark, d, n=1500)
    first, full = _split_events(ev)
    CdcEngine(spark, first, d + "/t", d + "/s",
              max_records_per_batch=100000, n_buckets=4).run_until_caught_up()
    main = LakeTable(spark, d + "/t")
    main.create_branch("audit")
    shutil.copytree(d + "/s", d + "/s_b")
    eng = CdcEngine(spark, full, d + "/t", d + "/s_b",
                    max_records_per_batch=400, n_buckets=4,
                    branch="audit", merge_mode="mor", compact_every=2)
    eng.run_until_caught_up()
    b = main.branch("audit")
    # the branch chain has its own history; expire trims it, head survives
    assert len(b.versions()) > 1
    expired = b.expire_snapshots(keep_last=1)
    assert expired and b.versions()[-1] not in expired
    main.fast_forward("audit")
    assert _fp(main) == _fp(b)


def test_branch_guards(spark, tmp_table_dir):
    d = tmp_table_dir
    ev = _events(spark, d, n=600)
    CdcEngine(spark, ev, d + "/t", d + "/s",
              max_records_per_batch=100000, n_buckets=4).run_until_caught_up()
    main = LakeTable(spark, d + "/t")
    main.create_branch("a")
    with pytest.raises(FileExistsError, match="already exists"):
        main.create_branch("a")
    with pytest.raises(KeyError, match="no branch"):
        main.branch("ghost")
    for bad in ("", "x/y", ".hidden", "a.json"):
        with pytest.raises(ValueError, match="bad branch name"):
            main.create_branch(bad)
    b = main.branch("a")
    for op in (lambda: b.set_tag("t"), lambda: b.drop_tag("t"),
               lambda: b.resolve_tag("t"), lambda: b.create_branch("c"),
               lambda: b.fast_forward("a"), lambda: b.drop_branch("a"),
               lambda: b.branch("a")):
        with pytest.raises(ValueError, match="main table handle"):
            op()
    # a branch of a table that does not exist has no fork point
    with pytest.raises(FileNotFoundError, match="existing table"):
        CdcEngine(spark, ev, d + "/missing", d + "/ms", branch="a")


def test_engine_attaches_when_branch_created_concurrently(
        spark, tmp_table_dir, monkeypatch):
    """Two ingests auto-creating the same --branch: the one whose
    branches() listing went stale loses create_branch's atomic marker
    publish and must attach to the winner's branch instead of raising."""
    d = tmp_table_dir
    ev = _events(spark, d, n=300)
    CdcEngine(spark, ev, d + "/t", d + "/s", n_buckets=4)  # creates main
    main = LakeTable(spark, d + "/t")
    main.create_branch("audit")  # the concurrent winner

    real = LakeTable.branches
    stale = []

    def branches_stale_once(self):
        if not stale:
            stale.append(True)
            return {}
        return real(self)

    monkeypatch.setattr(LakeTable, "branches", branches_stale_once)
    eng = CdcEngine(spark, ev, d + "/t", d + "/s2", n_buckets=4,
                    branch="audit")
    assert stale and eng.table.branch_name == "audit"
    monkeypatch.undo()
    eng.run_until_caught_up()
    assert main.current_version() == main.branches()["audit"]
    assert eng.table.current_version() > main.current_version()


def test_branch_cli_wap_e2e(spark, tmp_table_dir):
    from gobblin_spark.cli import main as cli

    d = tmp_table_dir
    ev = _events(spark, d, n=1500)
    first, _ = _split_events(ev)
    first.write.parquet(d + "/ev_first")
    cli(["ingest", "--events", d + "/ev_first", "--table", d + "/t",
         "--state", d + "/s", "--buckets", "4", "--local-cores", "4"])
    assert cli(["branch", "create", "--table", d + "/t",
                "--name", "audit"]) == 0
    cli(["ingest", "--events", d + "/events", "--table", d + "/t",
         "--state", d + "/s_b", "--buckets", "4", "--branch", "audit",
         "--local-cores", "4"])
    assert cli(["fingerprint", "--table", d + "/t", "--branch", "audit",
                "--local-cores", "4"]) == 0
    assert cli(["branch", "list", "--table", d + "/t"]) == 0
    assert cli(["branch", "publish", "--table", d + "/t",
                "--name", "audit"]) == 0
    main_t = LakeTable(spark, d + "/t")
    assert _fp(main_t) == _fp(main_t.branch("audit"))
    assert cli(["export", "--table", d + "/t", "--branch", "audit",
                "--out", d + "/x", "--local-cores", "4"]) == 0
    n_branch = read_current(main_t.branch("audit")).count()
    assert spark.read.parquet(d + "/x").count() == n_branch
    assert cli(["branch", "drop", "--table", d + "/t",
                "--name", "audit"]) == 0
    assert main_t.branches() == {}
    # --tag cannot select snapshots on a branch chain
    main_t.create_branch("b2")
    main_t.set_tag("r1")
    with pytest.raises(SystemExit):
        cli(["fingerprint", "--table", d + "/t", "--branch", "b2",
             "--tag", "r1", "--local-cores", "4"])


def test_branch_cli_verify_and_changes(spark, tmp_table_dir):
    """`verify --other-branch` (branch-vs-main audit on one root) and
    `changes --branch` (branch-chain changelog)."""
    from gobblin_spark.cli import main as cli

    d = tmp_table_dir
    ev = _events(spark, d, n=1200)
    first, _ = _split_events(ev)
    first.write.parquet(d + "/ev_first")
    cli(["ingest", "--events", d + "/ev_first", "--table", d + "/t",
         "--state", d + "/s", "--buckets", "4", "--local-cores", "4"])
    main_t = LakeTable(spark, d + "/t")
    base_v = main_t.current_version()
    main_t.create_branch("audit")
    # branch == main right after the fork
    assert cli(["verify", "--table", d + "/t", "--other", d + "/t",
                "--other-branch", "audit", "--local-cores", "4"]) == 0
    cli(["ingest", "--events", d + "/events", "--table", d + "/t",
         "--state", d + "/s_b", "--buckets", "4", "--branch", "audit",
         "--local-cores", "4"])
    # diverged now: exit 2
    assert cli(["verify", "--table", d + "/t", "--other", d + "/t",
                "--other-branch", "audit", "--local-cores", "4"]) == 2
    # branch-chain changelog from the fork base to the branch head
    assert cli(["changes", "--table", d + "/t", "--branch", "audit",
                "--from-version", str(base_v), "--local-cores", "4"]) == 0
    with pytest.raises(SystemExit, match="main-chain"):
        cli(["changes", "--table", d + "/t", "--branch", "audit",
             "--from-tag", "x", "--local-cores", "4"])


def test_branch_cli_history_rollback_expire_rescale(spark, tmp_table_dir):
    """The remaining snapshot-selecting CLI commands on a branch chain:
    history --branch, rollback --branch (undo audit commits pre-publish),
    expire --branch, rescale --branch."""
    import io
    from contextlib import redirect_stdout

    from gobblin_spark.cli import main as cli

    d = tmp_table_dir
    ev = _events(spark, d, n=1200)
    first, _ = _split_events(ev)
    first.write.parquet(d + "/ev_first")
    cli(["ingest", "--events", d + "/ev_first", "--table", d + "/t",
         "--state", d + "/s", "--buckets", "4", "--local-cores", "4"])
    main_t = LakeTable(spark, d + "/t")
    base_v = main_t.current_version()
    main_t.create_branch("audit")
    cli(["ingest", "--events", d + "/events", "--table", d + "/t",
         "--state", d + "/s_b", "--buckets", "4", "--branch", "audit",
         "--local-cores", "4"])
    b = main_t.branch("audit")
    head_v = b.current_version()
    assert head_v > base_v

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli(["history", "--table", d + "/t",
                    "--branch", "audit"]) == 0
    hist = json.loads(buf.getvalue())
    assert [h["version"] for h in hist][-1] == head_v

    # rollback the audit commits on the BRANCH; main untouched
    fp_main = _fp(main_t)
    assert cli(["rollback", "--table", d + "/t", "--branch", "audit",
                "--to-version", str(base_v)]) == 0
    assert _fp(main_t.branch("audit")) == _fp(main_t, version=base_v)
    assert _fp(main_t) == fp_main
    with pytest.raises(SystemExit, match="main-chain"):
        cli(["rollback", "--table", d + "/t", "--branch", "audit",
             "--tag", "x"])

    # expire the branch chain; the branch head survives, main versions too
    main_versions = main_t.versions()
    assert cli(["expire", "--table", d + "/t", "--branch", "audit",
                "--keep-last", "1", "--local-cores", "4"]) == 0
    assert len(main_t.branch("audit").versions()) == 1
    assert main_t.versions() == main_versions

    # metadata-only rescale on the branch chain; main keeps its spec
    assert cli(["rescale", "--table", d + "/t", "--branch", "audit",
                "--to-buckets", "8"]) == 0
    assert main_t.branch("audit").snapshot().n_buckets == 8
    assert main_t.snapshot().n_buckets == 4


def test_fast_forward_race_window_is_closed_by_atomic_publish(
        spark, tmp_table_dir):
    """A writer commits main's v(base+1) BETWEEN fast_forward's divergence
    check and its publish (the classic TOCTOU window): publish_if_absent
    on the same version file is the arbiter, so the fast-forward must
    raise and the racing commit must survive untouched."""
    from gobblin_spark.lakehouse.merge import delete_where

    d = tmp_table_dir
    ev = _events(spark, d, n=800)
    first, full = _split_events(ev)
    CdcEngine(spark, first, d + "/t", d + "/s",
              max_records_per_batch=100000, n_buckets=4).run_until_caught_up()
    main = LakeTable(spark, d + "/t")
    base_v = main.current_version()
    main.create_branch("audit")
    CdcEngine(spark, full, d + "/t", d + "/s_b",
              max_records_per_batch=100000, n_buckets=4,
              branch="audit").run_until_caught_up()

    # freeze the divergence check at the stale read...
    main_stale = LakeTable(spark, d + "/t")
    main_stale.current_version = lambda: base_v  # type: ignore
    # ...while another writer lands v(base_v + 1) first
    racer = LakeTable(spark, d + "/t")
    delete_where(racer, {"lang": "py"})
    assert racer.current_version() == base_v + 1
    racer_fp = _fp(racer)

    with pytest.raises(ConcurrentCommitError, match="already committed"):
        main_stale.fast_forward("audit")
    # the racing commit is intact; nothing from the branch leaked in
    assert main.current_version() == base_v + 1
    assert _fp(main) == racer_fp
