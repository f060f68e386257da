"""How every on-disk artifact is published: a reader sees the old artifact
or the new one, never half of either.

Elasticsearch gives the reference this for free (a bulk request is applied
or not, HBaseParser.java:137-162); this engine persists its own indexes,
manifests, epoch dirs and band tables, so the one rule lives here:

- :func:`replace_file` — one file (JSON manifest, layout marker, region
  file). The content lands in a hidden sibling ``.<name>.<uuid>.tmp`` that
  one ``os.replace`` moves over the destination. A crash leaves the old
  file plus at most a dot-named tmp, which :func:`visible` skips, so a
  directory check never mistakes it for content.
- :func:`publishing` — an immutable directory (index, epoch fixture, cell
  store). The body builds into a staging dir that renames into place only
  once the artifact's ``marker`` is in it. Concurrent builders of the same
  fingerprint-keyed path race safely: the loser of the rename discards its
  copy. Every other failure re-raises.
- :func:`replace_dir` — swap a rebuilt directory over a live one (band
  table compaction). :func:`stranded` finds what a crash between its two
  renames leaves behind; what to do about it is the owner's policy.

Version constants and the checks on them stay with each artifact's owner;
the marker itself is read and written with :func:`read_json` /
:func:`write_json`.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterator
from typing import Any


def replace_file(dest: str, write: Callable[[str], None]) -> None:
    """Atomically (re)place ``dest``: ``write(tmp)`` fills a hidden sibling
    that then replaces ``dest``. If ``write`` or the replace fails, the
    tmp is removed and ``dest`` keeps its old content."""
    head, name = os.path.split(dest)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        write(tmp)
        os.replace(tmp, dest)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def write_json(dest: str, obj: Any) -> None:
    """:func:`replace_file` for a JSON document (``json.dump`` defaults)."""
    def dump(tmp: str) -> None:
        with open(tmp, "w") as f:
            json.dump(obj, f)

    replace_file(dest, dump)


def read_json(path: str) -> Any:
    """The JSON document at ``path``; None when there is none."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def visible(path: str) -> list[str]:
    """Entries of directory ``path`` that are not hidden (dot-named, which
    includes :func:`replace_file` tmps); [] when ``path`` does not exist."""
    if not os.path.isdir(path):
        return []
    return [e for e in os.listdir(path) if not e.startswith(".")]


@contextlib.contextmanager
def publishing(path: str, marker: str) -> Iterator[str]:
    """Build the directory ``path`` in a staging dir and publish it.

    Yields ``{path}.tmp-<uuid>`` (created). On a clean exit the staging
    dir must hold ``marker`` — the artifact's completeness stamp, written
    last — or the publish is refused; it then renames into place. The
    only failure conceded is a lost race: ``marker`` appeared at ``path``
    while this build ran, i.e. a concurrent builder published the same
    (fingerprint-keyed) content first. A destination that already held
    ``marker`` on entry is a caller error (a stale artifact would stand in
    for the one asked for) and re-raises, as does any other failure and
    any exception in the body. The staging dir never survives a failure."""
    done = os.path.join(path, marker)
    preexisting = os.path.exists(done)
    staging = f"{path}.tmp-{uuid.uuid4().hex}"
    os.makedirs(staging)
    try:
        yield staging
        if not os.path.exists(os.path.join(staging, marker)):
            raise RuntimeError(
                f"refusing to publish {path}: the build wrote no {marker}")
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    try:
        os.rename(staging, path)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if preexisting or not os.path.exists(done):
            raise


def replace_dir(staged: str, live: str) -> None:
    """Swap ``staged`` in for ``live``: ``live`` moves aside to
    ``{live}.old-<uuid>``, ``staged`` renames in, the aside copy is
    dropped. A crash between the two renames leaves no ``live`` and one
    :func:`stranded` sibling holding its content; a single writer is
    assumed."""
    old = f"{live}.old-{uuid.uuid4().hex}"
    os.rename(live, old)
    os.rename(staged, live)
    shutil.rmtree(old, ignore_errors=True)


def stranded(live: str) -> list[str]:
    """Aside copies of ``live`` that an interrupted or unfinished
    :func:`replace_dir` left beside it."""
    parent, base = os.path.split(os.path.abspath(live))
    if not os.path.isdir(parent):
        return []
    return sorted(os.path.join(parent, e) for e in os.listdir(parent)
                  if e.startswith(f"{base}.old-"))
