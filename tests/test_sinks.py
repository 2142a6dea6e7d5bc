"""Sink adapter tests (SURVEY §2.1 S7-S13)."""

from __future__ import annotations

import json
import os

from acuvate_spark.operators import sinks
from acuvate_spark.tables import load_table


def test_append_parquet(spark, sf_dir, tmp_path):
    path = str(tmp_path / "sink")
    df = load_table(spark, sf_dir, "supplier")
    sinks.append_parquet(df, path)
    sinks.append_parquet(df, path)  # append, not overwrite
    assert spark.read.parquet(path).count() == df.count() * 2


def test_rest_sink_posts_all_rows_in_batches(spark, sf_dir, tmp_path):
    out = str(tmp_path / "posts.jsonl")

    # executors are separate local processes: collect via shared file
    def poster(batch):
        with open(out, "a") as f:
            f.write(json.dumps({"n": len(batch), "keys": [r["s_suppkey"] for r in batch]}) + "\n")

    df = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    sinks.rest_sink(df, poster, batch_size=3)
    batches = [json.loads(line) for line in open(out)]
    assert all(b["n"] <= 3 for b in batches)
    posted = sorted(k for b in batches for k in b["keys"])
    expected = sorted(r["s_suppkey"] for r in df.collect())
    assert posted == expected


def test_export_excel_falls_back_to_csv(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "region")
    path = sinks.export_excel(
        df,
        str(tmp_path / "out.xlsx"),
        header_map={"r_regionkey": "Region Key", "r_name": "Region"},
    )
    assert os.path.exists(path)
    header = open(path).readline().strip()
    assert "Region Key" in header and "Region" in header


def test_append_ledger(tmp_path):
    p = str(tmp_path / "ledger.jsonl")
    sinks.append_ledger(["a.pdf", "b.pdf"], p)
    sinks.append_ledger(["c.pdf"], p)
    assert [json.loads(x)["path"] for x in open(p)] == ["a.pdf", "b.pdf", "c.pdf"]


def test_committed_files_skips_uncommitted_dirs(tmp_path):
    """Only child dirs carrying ``_SUCCESS`` serve: a writer killed
    mid-write (``_temporary/`` only) or mid job-commit (part files, no
    marker) stays invisible."""

    def touch(*parts):
        p = tmp_path.joinpath(*parts)
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"")
        return str(p)

    done = touch("b1", "part-0.parquet")
    touch("b1", "_SUCCESS")
    touch("b2", "_temporary", "0", "part-0.parquet")
    touch("b3", "part-0.parquet")
    assert sinks._committed_files(str(tmp_path)) == [done]


# ---------------------------------------------------------------------------
# Writer-lease contract (VERDICT r11 item 5): a path rewritten in place
# is single-writer; a live concurrent writer fails LOUDLY, a crashed
# holder's stale lease never bricks the path, and nested acquisition
# in one process is re-entrant under one lease.
# ---------------------------------------------------------------------------


def _small_files(spark, sf_dir, tmp_path) -> str:
    path = str(tmp_path / "smallfiles")
    load_table(spark, sf_dir, "nation").repartition(8).write.parquet(path)
    return path


def test_live_lease_blocks_writer_and_leaves_register_untouched(tmp_path):
    import pytest

    root = str(tmp_path / "reg")
    os.makedirs(root)
    lease = root + ".__lease__"
    with open(lease, "w") as fh:
        fh.write("pid=99999 purpose=other-writer")  # fresh mtime: a live writer
    with pytest.raises(sinks.ConcurrentWriterError, match="single-writer"):
        with sinks.register_lease(root, "writer"):
            open(os.path.join(root, "part-0.parquet"), "w").close()
    # no partial effect: the writer body never ran, the holder's lease survives
    assert os.listdir(root) == []
    assert open(lease).read() == "pid=99999 purpose=other-writer"
    assert lease not in sinks._HELD_LEASES
    os.remove(lease)


def test_stale_lease_is_stolen_and_writer_proceeds(spark, sf_dir, tmp_path):
    from acuvate_spark.operators import storage

    path = _small_files(spark, sf_dir, tmp_path)
    lease = path + ".__lease__"
    with open(lease, "w") as fh:
        fh.write("pid=99999 purpose=compact-path")
    old = os.path.getmtime(lease) - sinks.LEASE_TTL_S - 60
    os.utime(lease, (old, old))  # a holder that died without releasing
    assert storage.compact_path(spark, path) == 1
    assert spark.read.parquet(path).count() == 25
    assert not os.path.exists(lease)  # released after the steal


def test_compact_blocked_by_live_lease(spark, sf_dir, tmp_path):
    """A running same-host holder blocks compaction with zero effect;
    once that process is gone its lease is stolen at once (no TTL
    wait) and the same compaction runs."""
    import subprocess

    import pytest

    from acuvate_spark.operators import storage

    path = _small_files(spark, sf_dir, tmp_path)
    files_before = sorted(os.listdir(path))
    lease = path + ".__lease__"
    holder = subprocess.Popen(["sleep", "60"])
    try:
        with open(lease, "w") as fh:
            fh.write(f"pid={holder.pid} host={sinks._HOSTNAME} purpose=compact-path")
        with pytest.raises(sinks.ConcurrentWriterError):
            storage.compact_path(spark, path)
        assert sorted(os.listdir(path)) == files_before
    finally:
        holder.kill()
        holder.wait()
    assert storage.compact_path(spark, path) == 1
    assert not os.path.exists(lease)


def test_nested_lease_acquisition_is_reentrant(spark, sf_dir, tmp_path):
    """A holder that runs another lease-taking pass on the same path
    (compact_path inside an outer lease) must not deadlock or raise;
    the lease stays the outer holder's until the outer block exits."""
    from acuvate_spark.operators import storage

    path = _small_files(spark, sf_dir, tmp_path)
    lease = path + ".__lease__"
    with sinks.register_lease(path, "outer"):
        token = open(lease).read()
        assert storage.compact_path(spark, path) == 1
        assert open(lease).read() == token
    assert not os.path.exists(lease)
    assert lease not in sinks._HELD_LEASES


# ---------------------------------------------------------------------------
# r13 lease hardening (ADVICE r12): pid-liveness steal for crashed
# same-host holders, and the rename-and-verify steal that closes the
# stat->remove TOCTOU (a blind remove could delete a FRESH lease a
# competing stealer just created, letting two writers acquire).
# ---------------------------------------------------------------------------


def _spawn_dead_pid() -> int:
    """A pid that existed and is now guaranteed dead (reaped child)."""
    import subprocess

    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_dead_same_host_holder_is_stolen_immediately(tmp_path):
    """A kill -9'd promote leaves a FRESH lease; its recorded pid is
    dead on this host, so crash-replay acquires immediately instead of
    erroring out for up to LEASE_TTL_S (ADVICE r12)."""
    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write(f"pid={_spawn_dead_pid()} host={sinks._HOSTNAME} purpose=promote")
    with sinks.register_lease(root, "replay"):
        assert os.path.exists(lease)  # ours now
    assert not os.path.exists(lease)


def test_live_same_host_holder_still_blocks(tmp_path):
    import pytest

    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write(f"pid={os.getpid()} host={sinks._HOSTNAME} purpose=promote")
    with pytest.raises(sinks.ConcurrentWriterError, match="single-writer"):
        with sinks.register_lease(root, "second"):
            pass
    os.remove(lease)


def test_unverifiable_holder_keeps_ttl_fallback(tmp_path):
    """A dead-looking pid on ANOTHER host must not be stolen early —
    pid namespaces differ across hosts, so only the TTL applies."""
    import pytest

    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write(f"pid={_spawn_dead_pid()} host=some-other-host purpose=promote")
    with pytest.raises(sinks.ConcurrentWriterError):
        with sinks.register_lease(root, "second"):
            pass
    os.remove(lease)


def test_steal_lease_removes_only_the_observed_file(tmp_path):
    lease = str(tmp_path / "reg.__lease__")
    with open(lease, "w") as fh:
        fh.write("pid=1 purpose=old")
    observed = os.stat(lease)
    assert sinks._steal_lease(lease, observed) is True
    assert not os.path.exists(lease)


def test_steal_lease_restores_a_displaced_fresh_lease(tmp_path):
    """TOCTOU closed: if the file at the lease path is no longer the
    one observed stale (a competing stealer removed it and created a
    fresh lease in between), the steal must NOT destroy it — the
    fresh lease is restored byte-identical and the steal reports
    failure, so the caller re-examines and then blocks on the live
    holder."""
    import time as _time

    lease = str(tmp_path / "reg.__lease__")
    with open(lease, "w") as fh:
        fh.write("pid=1 purpose=stale-holder")
    observed = os.stat(lease)
    # competing stealer wins: stale lease gone, fresh LIVE lease in place
    os.remove(lease)
    _time.sleep(0.01)  # distinct mtime even on coarse filesystems
    with open(lease, "w") as fh:
        fh.write("pid=2 purpose=fresh-winner")
    assert sinks._steal_lease(lease, observed) is False
    assert open(lease).read() == "pid=2 purpose=fresh-winner"
    assert not os.path.exists(f"{lease}.steal.{os.getpid()}")


# ---------------------------------------------------------------------------
# r14 lease hardening (ADVICE r13): exhausted acquisition RAISES (the
# for/else regression let a writer proceed unprotected and then delete
# a competitor's live lease on exit), release is token-verified, a
# TTL-overrun holder that is verifiably alive keeps blocking, and a
# displaced live lease that cannot be restored is preserved, not
# deleted.
# ---------------------------------------------------------------------------


def test_exhausted_lease_acquisition_raises_not_proceeds(tmp_path, monkeypatch):
    """All bounded attempts failing must raise ConcurrentWriterError —
    never fall through to 'acquired'. Simulated by a stale lease whose
    steal always loses (a churning competitor)."""
    import pytest

    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write("pid=99999 host=elsewhere purpose=promote")
    old = os.path.getmtime(lease) - sinks.LEASE_TTL_S - 60
    os.utime(lease, (old, old))
    monkeypatch.setattr(sinks, "_steal_lease", lambda *_: False)
    with pytest.raises(sinks.ConcurrentWriterError, match="could not acquire"):
        with sinks.register_lease(root, "churned-out"):
            raise AssertionError("must not acquire")
    # the loser touched nothing: the competitor's lease file survives
    assert open(lease).read() == "pid=99999 host=elsewhere purpose=promote"
    assert lease not in sinks._HELD_LEASES


def test_ttl_overrun_live_holder_still_blocks(tmp_path):
    """ADVICE r13 (schedule tick): a holder PAST the TTL whose
    same-host pid is verifiably alive (a >900 s daily sync) must keep
    blocking — stealing it re-opens the concurrent double-run."""
    import pytest

    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with open(lease, "w") as fh:
        fh.write(f"pid={os.getpid()} host={sinks._HOSTNAME} purpose=long-sync")
    old = os.path.getmtime(lease) - sinks.LEASE_TTL_S - 3600
    os.utime(lease, (old, old))
    with pytest.raises(sinks.ConcurrentWriterError, match="single-writer"):
        with sinks.register_lease(root, "second"):
            pass
    assert os.path.exists(lease)  # still the long holder's
    os.remove(lease)


def test_release_is_token_verified(tmp_path):
    """A holder whose lease was stolen mid-hold (TTL overrun) must not
    delete the thief's lease on exit — release only removes a file
    that still carries OUR token."""
    root = str(tmp_path / "reg")
    lease = root + ".__lease__"
    os.makedirs(root, exist_ok=True)
    with sinks.register_lease(root, "overrunner"):
        # a thief (TTL steal on another host) replaced our lease
        os.remove(lease)
        with open(lease, "w") as fh:
            fh.write("pid=424242 host=thief purpose=stolen")
    assert open(lease).read() == "pid=424242 host=thief purpose=stolen"
    os.remove(lease)


def test_steal_lease_preserves_displaced_lease_when_restore_fails(
    tmp_path, monkeypatch
):
    """If the displaced-live-lease restore loses to a third writer
    (os.link EEXIST), the displaced holder's record must survive at
    the steal path — deleting it silently destroyed a live
    acquisition (ADVICE r13)."""
    import time as _time

    import pytest

    lease = str(tmp_path / "reg.__lease__")
    with open(lease, "w") as fh:
        fh.write("pid=1 purpose=stale-holder")
    observed = os.stat(lease)
    os.remove(lease)
    _time.sleep(0.01)
    with open(lease, "w") as fh:
        fh.write("pid=2 purpose=fresh-winner")

    def _link_loses(src, dst):
        raise FileExistsError(17, "third writer already re-acquired", dst)

    monkeypatch.setattr(os, "link", _link_loses)
    with pytest.warns(UserWarning, match="could not restore"):
        assert sinks._steal_lease(lease, observed) is False
    steal = f"{lease}.steal.{os.getpid()}"
    assert open(steal).read() == "pid=2 purpose=fresh-winner"
