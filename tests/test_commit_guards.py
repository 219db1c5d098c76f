"""Static guards for the commit protocols of persisted artifacts: no
module outside ``operators/util.py`` hand-rolls a directory swap, a
staged commit's file moves or an atomic JSON replace; no reader
collapses replay duplicates (staged commits land rows exactly once);
and no writer flips the session-wide partition overwrite conf (the
per-write ``partitionOverwriteMode`` option does the same without
leaking into other queries on the session). No Spark."""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "flink_rag_spark")
UTIL = os.path.join("operators", "util.py")


def _calls(pattern: str) -> dict[str, list[str]]:
    """{package-relative file: [stripped source lines matching pattern]}"""
    rx = re.compile(pattern)
    out: dict[str, list[str]] = {}
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                hits = [ln.strip() for ln in f if rx.search(ln)]
            if hits:
                out[os.path.relpath(path, PKG)] = hits
    return out


def test_os_replace_only_in_util():
    assert set(_calls(r"\bos\.replace\(")) == {UTIL}


def test_os_rename_only_in_util_and_the_flush_hand_off():
    # swaps and a staged commit's roll-forward moves live in util;
    # pending -> pending.flushing is a state transition, not a commit
    hits = _calls(r"\bos\.rename\(")
    assert hits.pop(os.path.join("operators", "index.py")) == [
        "os.rename(pend, flush)"]
    assert set(hits) == {UTIL}


def test_no_read_side_replay_dedup_flag():
    assert not _calls(r"dedup_on_read")


def test_no_session_partition_overwrite_toggle():
    assert not _calls(r"spark\.sql\.sources\.partitionOverwriteMode")
    assert not _calls(r"conf\.set\([^)]*[Oo]verwrite")
