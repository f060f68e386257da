"""The publish module (``artifact.py``) and the markers its owners keep
through it. No Spark session: every case is plain filesystem work."""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys

import pytest

from elasticsearch_hbase_river_spark import artifact

PKG = pathlib.Path(artifact.__file__).parent
REPO = PKG.parent
MARKER = "_meta.json"


def _siblings(path) -> list[str]:
    """Every entry next to ``path`` whose name extends it (staging dirs,
    aside copies)."""
    parent, base = os.path.split(str(path))
    return sorted(e for e in os.listdir(parent)
                  if e.startswith(base) and e != base)


def _build(d: str, value: int) -> None:
    with open(os.path.join(d, "data"), "w") as f:
        f.write(str(value))
    artifact.write_json(os.path.join(d, MARKER), {"v": value})


def test_publishing_publishes_a_marked_build(tmp_path):
    path = tmp_path / "idx"
    with artifact.publishing(str(path), MARKER) as d:
        assert os.path.isdir(d) and not path.exists()
        _build(d, 1)
    assert (path / "data").read_text() == "1"
    assert artifact.read_json(str(path / MARKER)) == {"v": 1}
    assert _siblings(path) == []


def test_publishing_concedes_a_lost_race(tmp_path):
    """A concurrent builder published the same path during the build:
    this build's copy is discarded, no error."""
    path = tmp_path / "idx"
    with artifact.publishing(str(path), MARKER) as d:
        _build(d, 1)
        path.mkdir()
        _build(str(path), 2)
    assert (path / "data").read_text() == "2"
    assert _siblings(path) == []


def test_publishing_refuses_a_preexisting_destination(tmp_path):
    """A destination published BEFORE the build started would leave a stale
    artifact standing in for the one asked for: re-raise."""
    path = tmp_path / "idx"
    path.mkdir()
    _build(str(path), 1)
    with pytest.raises(OSError):
        with artifact.publishing(str(path), MARKER) as d:
            _build(d, 2)
    assert (path / "data").read_text() == "1"
    assert _siblings(path) == []


def test_publishing_failure_without_a_race_reraises(tmp_path):
    """The rename fails but no marker appeared at the destination (an
    unmarked foreign directory occupies it): not a lost race."""
    path = tmp_path / "idx"
    path.mkdir()
    (path / "foreign").write_text("x")
    with pytest.raises(OSError):
        with artifact.publishing(str(path), MARKER) as d:
            _build(d, 1)
    assert os.listdir(path) == ["foreign"]
    assert _siblings(path) == []


def test_publishing_body_exception_removes_staging(tmp_path):
    path = tmp_path / "idx"
    with pytest.raises(ValueError, match="boom"):
        with artifact.publishing(str(path), MARKER) as d:
            _build(d, 1)
            raise ValueError("boom")
    assert not path.exists()
    assert _siblings(path) == []


def test_publishing_refuses_a_build_without_marker(tmp_path):
    path = tmp_path / "idx"
    with pytest.raises(RuntimeError, match=MARKER):
        with artifact.publishing(str(path), MARKER) as d:
            (pathlib.Path(d) / "data").write_text("half")
    assert not path.exists()
    assert _siblings(path) == []


def test_write_json_bytes_are_json_dump_defaults(tmp_path):
    """Marker bytes stay exactly what ``json.dump`` wrote before the module
    existed, so artifacts published earlier keep being served."""
    dest = tmp_path / "m.json"
    obj = {"layout": 2, "mode": "ascii", "nested": [1, "é"]}
    artifact.write_json(str(dest), obj)
    assert dest.read_text() == json.dumps(obj)
    assert artifact.read_json(str(tmp_path / "absent.json")) is None


def test_failed_replace_file_keeps_old_content(tmp_path):
    dest = tmp_path / "m.json"
    artifact.write_json(str(dest), {"v": 1})

    def half_write(tmp: str) -> None:
        with open(tmp, "w") as f:
            f.write('{"v": ')
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        artifact.replace_file(str(dest), half_write)
    assert artifact.read_json(str(dest)) == {"v": 1}
    assert os.listdir(tmp_path) == ["m.json"]


def test_replace_file_tmp_is_hidden(tmp_path):
    """Until the replace lands (or after a crash before it), the tmp is a
    dot-named sibling that directory checks do not count as content."""
    seen = {}

    def write(tmp: str) -> None:
        pathlib.Path(tmp).write_text("x")
        seen["name"] = os.path.basename(tmp)
        seen["visible"] = artifact.visible(str(tmp_path))

    artifact.replace_file(str(tmp_path / "m.json"), write)
    assert seen["name"].startswith(".m.json.")
    assert seen["visible"] == []
    assert artifact.visible(str(tmp_path)) == ["m.json"]
    assert artifact.visible(str(tmp_path / "absent")) == []


def test_replace_dir_swaps_and_leaves_nothing_stranded(tmp_path):
    live, staged = tmp_path / "bands", tmp_path / "bands.compact-1"
    live.mkdir()
    (live / "f").write_text("old")
    staged.mkdir()
    (staged / "f").write_text("new")
    artifact.replace_dir(str(staged), str(live))
    assert (live / "f").read_text() == "new"
    assert not staged.exists()
    assert artifact.stranded(str(live)) == []


def test_replace_dir_crash_between_renames_is_detected(tmp_path, monkeypatch):
    live, staged = tmp_path / "bands", tmp_path / "bands.compact-1"
    live.mkdir()
    (live / "f").write_text("old")
    staged.mkdir()
    real_rename, calls = os.rename, []

    def crash_on_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("crash")
        real_rename(src, dst)

    monkeypatch.setattr(artifact.os, "rename", crash_on_second)
    with pytest.raises(OSError, match="crash"):
        artifact.replace_dir(str(staged), str(live))
    monkeypatch.undo()
    assert not live.exists()
    (aside,) = artifact.stranded(str(live))
    assert os.path.basename(aside).startswith("bands.old-")
    assert pathlib.Path(aside, "f").read_text() == "old"
    assert artifact.stranded(str(tmp_path / "nowhere" / "bands")) == []


def test_rename_and_replace_live_only_in_artifact():
    """Publishing is decided in one module: no other package file renames
    or replaces a path itself."""
    pat = re.compile(r"os\.(rename|replace)\(")
    offenders = [f"{p.relative_to(PKG)}:{i}"
                 for p in sorted(PKG.rglob("*.py")) if p.name != "artifact.py"
                 for i, line in enumerate(p.read_text().splitlines(), 1)
                 if pat.search(line)]
    assert offenders == []


# ---------------------------------------------------------------------------
# The owners' markers, through the module.


def _crash_at_replace(code: str) -> None:
    """Run ``code`` in a fresh interpreter whose ``os.replace`` ends the
    process on the spot: a crash between a marker's write and its rename,
    with no cleanup of any kind."""
    prog = "import os\nos.replace = lambda *a: os._exit(3)\n" + code
    r = subprocess.run([sys.executable, "-c", prog], cwd=REPO,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 3, r.stderr


@pytest.mark.parametrize("stamp,check,marker", [
    ("_stamp_epochs_layout", "_check_epochs_layout", "_epochs_meta.json"),
    ("_stamp_nested_epochs_layout", "_check_nested_epochs_layout",
     "_nested_epochs_meta.json"),
])
def test_stamp_crash_leaves_epochs_dir_usable(tmp_path, stamp, check,
                                              marker):
    """A crash inside the layout stamp of a fresh epochs dir leaves only the
    marker's tmp behind; the next start must still accept the dir (it
    holds no epochs) and stamp it."""
    from elasticsearch_hbase_river_spark.streaming import river_stream

    d = str(tmp_path / "epochs")
    _crash_at_replace(
        "from elasticsearch_hbase_river_spark.streaming import river_stream\n"
        f"river_stream.{stamp}({d!r})\n")
    assert os.listdir(d) != []  # the stray tmp is there
    getattr(river_stream, check)(d)
    getattr(river_stream, stamp)(d)
    getattr(river_stream, check)(d)
    assert artifact.read_json(os.path.join(d, marker))["layout"] >= 1


def test_esql_stream_marker_write_failure_leaves_no_truncated_marker(
        tmp_path):
    """A failure while the state marker is being written must not leave a
    truncated JSON that every later resume dies on."""
    from elasticsearch_hbase_river_spark.streaming import esql_stream

    state = str(tmp_path / "state")
    text = "FROM events | STATS n = COUNT(*) BY event_type"
    with pytest.raises(TypeError):  # json.dump fails half-way through
        esql_stream._stamp_state(state, text, "mergeable",
                                 {"bad": object()})
    assert not os.path.exists(os.path.join(state, esql_stream._META))
    esql_stream._stamp_state(state, text, "mergeable")
    esql_stream._check_state(state, text)
    with pytest.raises(ValueError, match="DIFFERENT query"):
        esql_stream._stamp_state(state, text + " | LIMIT 1", "mergeable")
