"""``cachedir.materialize``: the one build-and-publish path for cached
fixtures, and ``cachedir.run_dir``.  No Spark: every ``build`` here
writes plain files."""

import os
import subprocess
import sys

import pytest

from hadoop_formats_spark import cachedir


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(cachedir, "_ROOT", str(tmp_path))
    return tmp_path


def _write_dir(tmp, name="part-0.parquet"):
    os.makedirs(tmp)
    with open(os.path.join(tmp, name), "w") as f:
        f.write("rows")


def _leftovers(final):
    parent, base = os.path.split(final)
    return [f for f in os.listdir(parent) if f.startswith(base + ".")]


def test_sf_key_matches_the_published_layout():
    assert cachedir.sf_key("/data/tpch/sf0.01") == "data_tpch_sf0.01"
    assert cachedir.sf_key("/data/sf1/") == "data_sf1"


def test_populated_hit_does_not_build(root):
    final = root / "fmt_cache" / "k" / "t"
    _write_dir(str(final))

    def build(tmp):
        raise AssertionError("a hit must not build")

    assert cachedir.materialize(("fmt_cache", "k", "t"), build) == str(final)


def test_miss_builds_once_and_publishes(root):
    calls = []

    def build(tmp):
        calls.append(tmp)
        _write_dir(tmp)

    path = cachedir.materialize(("seq_cache", "k", "t"), build)
    assert path == str(root / "seq_cache" / "k" / "t")
    assert os.listdir(path) == ["part-0.parquet"]
    assert cachedir.materialize(("seq_cache", "k", "t"), build) == path
    assert len(calls) == 1
    assert calls[0].startswith(path + ".")
    assert _leftovers(path) == []


def test_foreign_marker_only_dir_raises_and_leaves_no_tmp(root):
    final = root / "fmt_cache" / "k" / "t"
    final.mkdir(parents=True)
    (final / "_SUCCESS").write_text("")
    with pytest.raises(RuntimeError, match="unpopulated") as exc:
        cachedir.materialize(("fmt_cache", "k", "t"), _write_dir)
    assert str(final) in str(exc.value)
    assert _leftovers(str(final)) == []
    assert os.listdir(final) == ["_SUCCESS"]


def test_lost_race_serves_the_winner_and_removes_tmp(root):
    final = str(root / "seq_cache" / "k" / "t")

    def build(tmp):
        _write_dir(tmp, "ours")
        _write_dir(final, "winner")  # a concurrent builder publishes first

    assert cachedir.materialize(("seq_cache", "k", "t"), build) == final
    assert os.listdir(final) == ["winner"]
    assert _leftovers(final) == []


def test_failed_build_leaves_no_tmp(root):
    def build(tmp):
        _write_dir(tmp)
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        cachedir.materialize(("seq_cache", "k", "t"), build)
    parent = root / "seq_cache" / "k"
    assert os.listdir(parent) == []


def test_build_that_writes_nothing_raises(root):
    with pytest.raises(RuntimeError, match="unpopulated"):
        cachedir.materialize(("seq_cache", "k", "t"), lambda tmp: None)


def test_single_file_target(root):
    calls = []

    def build(tmp):
        calls.append(tmp)
        with open(tmp, "wb") as f:
            f.write(b"SEQ\x06")

    path = cachedir.materialize(("seq_cache", "scaled", "x.seq"), build)
    assert os.path.isfile(path)
    assert open(path, "rb").read() == b"SEQ\x06"
    assert cachedir.materialize(("seq_cache", "scaled", "x.seq"), build) == path
    assert len(calls) == 1
    assert _leftovers(path) == []


def test_empty_file_is_not_a_hit(root):
    final = root / "seq_cache" / "scaled" / "x.seq"
    final.parent.mkdir(parents=True)
    final.write_bytes(b"")

    def build(tmp):
        with open(tmp, "wb") as f:
            f.write(b"data")

    assert cachedir.materialize(("seq_cache", "scaled", "x.seq"), build) == str(final)
    assert final.read_bytes() == b"data"


def test_run_dir_removed_at_interpreter_exit(tmp_path):
    code = (
        "import os\n"
        "from hadoop_formats_spark.cachedir import run_dir\n"
        "d = run_dir('fbu_')\n"
        "os.makedirs(os.path.join(d, 'current'))\n"
        "open(os.path.join(d, 'current', 'part-0'), 'w').close()\n"
        "print(d)\n"
    )
    env = dict(os.environ, HFS_CACHE_DIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert os.path.dirname(out) == str(tmp_path)
    assert os.listdir(tmp_path) == []
