"""FileLease, the one lock primitive behind both ANN index locks
(MAINT_LOCK for compaction/vacuum, APPEND_LOCK for appenders): a
holder's exit must never remove a lock that is no longer its own, and
the lease must stay exclusive under real multi-process contention.
No Spark session is needed here."""

from __future__ import annotations

import json
import multiprocessing
import os
import time
from pathlib import Path

import pytest

from environmental_stac_generator_spark.queries import ann_index as AI

LOCKS = [AI.MAINT_LOCK, AI.APPEND_LOCK]


@pytest.mark.parametrize("name", LOCKS)
def test_release_keeps_second_acquirers_lock_mid_create(tmp_path, name):
    """The lock was force-released while held, and a second acquirer's
    O_EXCL create landed but has not written its metadata yet. The
    first holder's exit must leave that metadata-less lock alone."""
    with AI.FileLease(tmp_path, name):
        AI.release_stale_lock(tmp_path, name, force=True)
        (tmp_path / name).write_text("")  # second acquirer, mid-create
    assert (tmp_path / name).exists()
    assert AI.lock_info(tmp_path, name) == {}


@pytest.mark.parametrize("name", LOCKS)
def test_release_keeps_same_process_reacquire(tmp_path, name):
    """Force-release, then a re-acquire by this same process (same pid
    and host): only the fencing token tells the two holders apart, and
    the first holder's exit must leave the second one's lock alone."""
    with AI.FileLease(tmp_path, name) as first:
        AI.release_stale_lock(tmp_path, name, force=True)
        second = AI.FileLease(tmp_path, name).acquire()
        assert second.token != first.token
    info = AI.lock_info(tmp_path, name)
    assert info is not None and info["token"] == second.token
    second.release()
    assert not (tmp_path / name).exists()


@pytest.mark.parametrize("name", LOCKS)
def test_remove_if_puts_back_a_replaced_lock(tmp_path, name):
    """A removal judged on a stale read (the lock was replaced since)
    claims the new lock by rename, sees a different body, and puts it
    back untouched."""
    stale = {"pid": 1, "host": "elsewhere", "token": "old"}
    live = AI.FileLease(tmp_path, name).acquire()
    body = (tmp_path / name).read_text()
    assert AI.FileLease(tmp_path, name)._remove_if(stale) is False
    assert (tmp_path / name).read_text() == body
    assert not list(tmp_path.glob(f"{name}.claim-*"))
    live.release()
    assert not (tmp_path / name).exists()


def _contend(root: str, name: str, rounds: int) -> None:
    """One contender: acquire, read-modify-write the shared counter,
    release; a refused acquire is retried. An ``inside`` marker taken
    with O_EXCL while holding the lease turns any overlap between two
    holders into a FileExistsError, which fails the process."""
    root_p = Path(root)
    done = 0
    while done < rounds:
        try:
            lease = AI.FileLease(root_p, name).acquire()
        except RuntimeError:
            time.sleep(0.001)
            continue
        try:
            os.close(os.open(root_p / "inside", os.O_CREAT | os.O_EXCL))
            counter = root_p / "counter"
            n = int(counter.read_text())
            time.sleep(0.0005)  # widen the read-modify-write window
            counter.write_text(str(n + 1))
            os.unlink(root_p / "inside")
        finally:
            lease.release()
        done += 1


@pytest.mark.parametrize("name", LOCKS)
def test_lease_exclusive_across_processes(tmp_path, name):
    """Eight processes contend for one lease: every increment lands
    exactly once and no two holders ever overlap."""
    procs, rounds = 8, 15
    (tmp_path / "counter").write_text("0")
    ctx = multiprocessing.get_context("spawn")
    workers = [
        ctx.Process(target=_contend, args=(str(tmp_path), name, rounds))
        for _ in range(procs)
    ]
    try:
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=120)
            assert not w.is_alive()
    finally:
        for w in workers:
            if w.is_alive():
                w.kill()
    assert [w.exitcode for w in workers] == [0] * procs
    assert int((tmp_path / "counter").read_text()) == procs * rounds
    assert not (tmp_path / name).exists()
    assert not (tmp_path / "inside").exists()


@pytest.mark.parametrize("name", LOCKS)
def test_acquire_reclaims_provably_dead_owner(tmp_path, name):
    """A lock whose pid is provably dead on this host is reclaimed by
    the next acquire, for both roles."""
    import socket
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    (tmp_path / name).write_text(
        json.dumps({"pid": p.pid, "host": socket.gethostname(), "token": "x"})
    )
    with AI.FileLease(tmp_path, name) as lease:
        assert AI.lock_info(tmp_path, name)["token"] == lease.token
    assert not (tmp_path / name).exists()
