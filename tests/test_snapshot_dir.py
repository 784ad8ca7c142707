"""The registry's snapshot cache (`queries_ext._snapshot_dir`), without
Spark: a fixture is built once per snapshot, a published build is never
removed, a stale directory is replaced, and a failed build leaves
nothing behind in the temp directory."""

import hashlib
import multiprocessing
import os
import tempfile
import time

import pytest

import wde_spark.queries  # noqa: F401  (registry init owns the
# queries <-> queries_ext import order)
from wde_spark.queries_ext import _snapshot_dir


@pytest.fixture
def dirs(tmp_path, monkeypatch):
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"x")
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return str(sf), tmp


def _base(sf: str, tmp) -> str:
    mtime = int(os.path.getmtime(os.path.join(sf, "documents.parquet")))
    tag = hashlib.md5(f"{os.path.abspath(sf)}:{mtime}".encode()) \
        .hexdigest()[:12]
    return str(tmp / f"wde_t_{tag}")


def _left(tmp) -> list:
    """What a call leaves in the temp directory: the build and its lock."""
    return sorted(os.listdir(tmp))


def _writer(calls: list):
    def build(stage: str) -> None:
        calls.append(stage)
        with open(os.path.join(stage, "built"), "w") as fh:
            fh.write("ok")
    return build


def test_two_calls_build_once(dirs):
    sf, tmp = dirs
    calls: list = []
    first = _snapshot_dir(sf, "documents", "wde_t", _writer(calls))
    second = _snapshot_dir(sf, "documents", "wde_t", _writer(calls))
    assert first == second == _base(sf, tmp)
    assert len(calls) == 1
    assert sorted(os.listdir(first)) == ["_COMPLETE", "built"]
    name = os.path.basename(first)
    assert _left(tmp) == [name, f"{name}.lock"]


def test_lost_race_keeps_the_published_build(dirs):
    sf, tmp = dirs

    def build(stage: str) -> None:
        # another process publishes its finished build meanwhile
        base = stage.rsplit(".build.", 1)[0]
        os.makedirs(base)
        for name in ("_COMPLETE", "winner"):
            with open(os.path.join(base, name), "w") as fh:
                fh.write("ok")
        with open(os.path.join(stage, "loser"), "w") as fh:
            fh.write("ok")

    out = _snapshot_dir(sf, "documents", "wde_t", build)
    assert out == _base(sf, tmp)
    assert sorted(os.listdir(out)) == ["_COMPLETE", "winner"]
    name = os.path.basename(out)
    assert _left(tmp) == [name, f"{name}.lock"]


def test_stale_base_is_replaced(dirs):
    sf, tmp = dirs
    stale = _base(sf, tmp)
    os.makedirs(os.path.join(stale, "half"))
    calls: list = []
    out = _snapshot_dir(sf, "documents", "wde_t", _writer(calls))
    assert out == stale and len(calls) == 1
    assert sorted(os.listdir(out)) == ["_COMPLETE", "built"]


def test_failed_build_leaves_nothing(dirs):
    sf, tmp = dirs

    def build(stage: str) -> None:
        with open(os.path.join(stage, "partial"), "w") as fh:
            fh.write("x")
        raise RuntimeError("stream failed")

    with pytest.raises(RuntimeError, match="stream failed"):
        _snapshot_dir(sf, "documents", "wde_t", build)
    assert _left(tmp) == []


def _race(args):
    sf, tmp, start = args
    tempfile.tempdir = tmp

    def build(stage: str) -> None:
        with open(os.path.join(stage, f"built_by_{os.getpid()}"), "w") as fh:
            fh.write("ok")

    time.sleep(max(0.0, start - time.time()))
    base = _snapshot_dir(sf, "documents", "wde_t", build)
    return base, sorted(os.listdir(base))


@pytest.mark.parametrize("stale", [False, True])
def test_concurrent_builders_share_one_build(dirs, stale):
    """More builders than cores, started together (on a stale directory,
    too): every one returns the same directory, which holds exactly one
    build, and no stage is left behind."""
    sf, tmp = dirs
    if stale:
        os.makedirs(os.path.join(_base(sf, tmp), "half"))
    n = 2 * (os.cpu_count() or 2)
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(n) as pool:
        ready = pool.map_async(time.sleep, [0.0] * n)
        ready.get(timeout=120)  # workers are up before the race starts
        res = pool.map_async(_race, [(sf, str(tmp), time.time() + 0.5)] * n)
        out = res.get(timeout=120)
    base = _base(sf, tmp)
    assert {b for b, _ in out} == {base}
    listing = sorted(os.listdir(base))
    assert len(listing) == 2 and listing[0] == "_COMPLETE"
    assert listing[1].startswith("built_by_")
    assert all(files == listing for _, files in out)
    name = os.path.basename(base)
    assert _left(tmp) == [name, f"{name}.lock"]
