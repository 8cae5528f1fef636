"""Every persisted-state path goes through ``storage.py``: a local-only
file call anywhere else in the package fails here instead of reading a
``file://`` or ``s3a://`` path wrong in production."""

from __future__ import annotations

import pathlib
import re

PACKAGE = (pathlib.Path(__file__).resolve().parent.parent
           / "s3_elasticsearch_data_pipeline_spark")

LOCAL_ONLY = re.compile(
    r"os\.path\.(exists|isdir|isfile|getsize)\b"
    r"|os\.(listdir|walk|makedirs|remove|replace|rename)\b"
    r"|\bshutil\."
    r"|(?<![\w.])open\("
    r"|getFileSystem")

#: Files allowed to make local-only calls, and why. Each entry must
#: still need its exemption (checked below), so the list cannot rot.
ALLOWED = {
    # the Hadoop-FileSystem layer itself
    "storage.py",
    # package-owned scratch dirs (tempfile.mkdtemp) for the
    # self-contained registry queries, never a user-supplied path
    "registry.py",
}


def _hits() -> dict[str, list[str]]:
    hits: dict[str, list[str]] = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        for n, line in enumerate(f.read_text().splitlines(), 1):
            if LOCAL_ONLY.search(line):
                hits.setdefault(rel, []).append(f"{rel}:{n}: {line.strip()}")
    return hits


def test_no_local_only_file_calls_outside_storage():
    hits = _hits()
    stray = [h for rel, lines in hits.items() if rel not in ALLOWED
             for h in lines]
    assert not stray, "route these through storage.py:\n" + "\n".join(stray)
    assert set(hits) == ALLOWED, "stale allowlist entries: %s" % sorted(
        ALLOWED - set(hits))
