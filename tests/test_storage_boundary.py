"""Module boundaries the package keeps by grep:

- Every persisted-state path goes through ``storage.py``: a local-only
  file call anywhere else in the package fails here instead of reading
  a ``file://`` or ``s3a://`` path wrong in production.
- Checkpoint blocks are released only through
  ``session.checkpoint_scope``: a hand-written snapshot/diff/release
  anywhere else fails here.
- The driver-offload policy lives in ``offload.py``: a driver cap
  defined anywhere else, a ``.limit(<cap> + 1)`` action run anywhere
  else, or ``sinks/``/``streaming/`` importing ``operators.similarity``
  (once done for its caps) fails here.
- A partitioned write is laid out by ``offload.by_partition`` (one task
  or a shuffle by the partition column, decided on planned bytes): a
  ``repartition(...)`` written ``partitionBy(...)`` right after it
  anywhere else fails here.
"""

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


RDD_RELEASE = re.compile(r"\b(persistent_rdd_ids|release_persistent_rdds)\b")


#: A module-level cap of the driver-offload policy: a name with MAX and
#: DRIVER or BROADCAST in it, assigned at the start of a line.
DRIVER_CAP = re.compile(r"^(?=\w*MAX)\w*(DRIVER|BROADCAST)\w*\s*(:[^=]*)?=")

CAPPED_LIMIT = re.compile(r"\.limit\([^()]*\+\s*1\s*\)")

SIMILARITY_IMPORT = re.compile(
    r"operators\.similarity\b|operators import .*\bsimilarity\b")

#: ``sinks/``/``streaming/`` modules allowed to import
#: ``operators.similarity``, and why.
SIMILARITY_IMPORTERS = {
    # the streaming index ingests write cells through the batch
    # index's writers and layout guard
    "streaming/ivf_ingest.py",
    "streaming/ivfpq_ingest.py",
}


#: A ``repartition(...)`` whose frame is written ``.write…partitionBy(``
#: within the next two lines (matched across lines).
SHUFFLED_WRITE = re.compile(
    r"\.repartition\((?:.*\n){0,2}?.*?\.write\b.*?(?:\n.*?)?\.partitionBy\(")

#: Modules allowed to shuffle before a partitioned write, and why.
SHUFFLED_WRITERS = {
    # compaction: repartition(n_files) sizes the rewritten files on
    # purpose, so the file count is the point of the shuffle
    "maintenance.py",
    # the bucketed sink: repartition(partition, bucket) writes the
    # caller's files_per_partition files per partition, by request
    "sinks/partitioned.py",
}


def _hits(pattern: re.Pattern, under: str = "",
          across_lines: bool = False) -> dict[str, list[str]]:
    hits: dict[str, list[str]] = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        if not rel.startswith(under):
            continue
        text = f.read_text()
        lines = text.splitlines()
        found = ((text.count("\n", 0, m.start()) + 1
                  for m in pattern.finditer(text)) if across_lines else
                 (n for n, line in enumerate(lines, 1)
                  if pattern.search(line)))
        for n in found:
            hits.setdefault(rel, []).append(
                f"{rel}:{n}: {lines[n - 1].strip()}")
    return hits


def _assert_only_in(pattern: re.Pattern, allowed: set[str], fix: str,
                    under: tuple[str, ...] = ("",),
                    across_lines: bool = False):
    hits = {rel: lines for u in under
            for rel, lines in _hits(pattern, u, across_lines).items()}
    stray = [h for rel, lines in hits.items() if rel not in allowed
             for h in lines]
    assert not stray, f"{fix}:\n" + "\n".join(stray)
    assert set(hits) == allowed, "stale allowlist entries: %s" % sorted(
        allowed - set(hits))


def test_no_local_only_file_calls_outside_storage():
    _assert_only_in(LOCAL_ONLY, ALLOWED, "route these through storage.py")


def test_checkpoint_release_only_in_session():
    _assert_only_in(RDD_RELEASE, {"session.py"},
                    "use session.checkpoint_scope for these")


def test_driver_caps_only_in_offload():
    _assert_only_in(DRIVER_CAP, {"offload.py"},
                    "define driver caps in offload.py")


def test_capped_limit_actions_only_in_offload():
    _assert_only_in(CAPPED_LIMIT, {"offload.py"},
                    "fetch through offload.fetch")


def test_sinks_and_streaming_do_not_import_similarity_for_caps():
    _assert_only_in(SIMILARITY_IMPORT, SIMILARITY_IMPORTERS,
                    "read caps from offload, not operators.similarity",
                    under=("sinks/", "streaming/"))


def test_partitioned_writes_laid_out_by_offload():
    _assert_only_in(SHUFFLED_WRITE, SHUFFLED_WRITERS,
                    "lay the write out with offload.by_partition",
                    across_lines=True)
