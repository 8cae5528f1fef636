"""The driver-offload policy in one place: an operator runs on the
driver when its data is small and keeps its distributed Spark plan
when it is not. This module holds every cap of the policy, each beside
the crossover run that set it; :func:`decide`, the one predicate,
which logs each decision as one event; :func:`fetch`, the one capped
fetch; and :func:`by_partition`, which lays a frame out for a
partitioned write in one task or by a shuffle. Callers read a cap as
``offload.<CAP>`` when they run, so a test forces a side by
monkeypatching the constant here. Each decision site is named
``<module>.<function>`` (a write site ``<module>.<what>_write``);
README's layout lists them with the caps each judges.
"""

from __future__ import annotations

import contextlib
import logging

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from s3_elasticsearch_data_pipeline_spark.session import scoped_conf

#: Above this query count the Arrow/PQ search paths refuse to funnel
#: the query frame through the driver: a "query set" is serving-sized
#: by contract; a corpus-sized frame would silently become a driver
#: memory bottleneck (the same failure mode PageRank's broadcast limit
#: guards against).
MAX_DRIVER_QUERIES = 10_000

#: Byte twin of the row cap (r11): the driver-resident paths ship the
#: collected query matrix in task closures, and rows × dim × 8 grows
#: linearly with embedding dim while the row cap stands still. Sized
#: so the standard 64-dim serving batch keeps its exact r10 behavior
#: (10_000 × 64 × 8 = 5.12 MB) and anything wider flips to the
#: distributed plan proportionally earlier.
MAX_DRIVER_QUERY_BYTES = MAX_DRIVER_QUERIES * 64 * 8

#: Listed bytes of the probed cells' files above which a serving-sized
#: probe scans them with Spark instead of reading them on the driver.
#: Measured (4 cores, local FS, 16-cell indexes of 5k-200k random
#: 64-dim vectors, warm probe + drain, median of 3): the driver read
#: beat the Spark scan at every size up to 104 MB while the pairs
#: stayed under the pair cap's crossover; at 26 MB and one query it
#: took 0.19 s (IVF) and 0.25 s (IVF-PQ) against 0.55 s and 1.45 s.
#: So this cap bounds driver memory, not time: at 26 MB the probe's
#: Python heap peaked at 30-33 MB.
MAX_DRIVER_CELL_BYTES = 32 << 20

#: (query, candidate) pairs a driver read may score: the sum over the
#: probed cells of the queries probing the cell times its rows. The
#: IVF scoring materialises every pair (about 100 B of heap each), so
#: it sets the bound: in the same measurement its driver read won at
#: 0.8 M pairs (0.66 s against 0.98 s for the scan), tied at 1.6 M and
#: lost at 2.6 M (1.83 s against 1.52 s) and 5.1 M (3.1 s against
#: 2.1 s, 514 MB of heap). IVF-PQ, whose ADC scan keeps only a
#: shortlist per (query, cell), still won at 5.1 M pairs.
MAX_DRIVER_PROBE_PAIRS = 1_000_000

#: Delta rows up to which the keyed merge is taken. Set from a
#: crossover run of both plans (warm upserts of a parquet delta, half
#: updates and half new keys over 12 partitions, 11-character keys,
#: median of 3, 4 cores, local FS), as the keyed merge's time over the
#: window merge's: into a 50 k-row sink 0.61 at 20 k delta rows and
#: 0.75 at 100 k; into 200 k rows 0.56 at 2 k, 0.71 at 50 k, 0.75 at
#: 100 k and 0.77 at 200 k; into 1 M rows 0.55 at 50 k, 0.66 at 200 k,
#: 0.70 at 400 k, 0.65 at 800 k and 0.82 at 1.6 M, where the driver
#: process's peak RSS grew from 392 to 589 MB. The keyed merge never lost on
#: 11-character keys; the cap bounds what the collect fetches, and an
#: over-cap delta pays that collect (``cap+1`` rows) before the window
#: merge.
MAX_UPSERT_DRIVER_ROWS = 200_000

#: Byte twin of :data:`MAX_UPSERT_DRIVER_ROWS`: the Arrow bytes of the
#: collected pairs. In the same run with 200-character keys into the
#: 200 k-row sink, the keyed merge took 0.74 of the window merge's time
#: at 100 k rows (about 21 MB of pairs), 0.90 at 200 k (42 MB) and 1.12
#: at 400 k (84 MB).
MAX_UPSERT_DRIVER_BYTES = 32 << 20

#: Below this pair count the iterative loop's scheduled jobs (one
#: join+agg round per graph-diameter step, plus the checkpoint jobs)
#: are pure overhead next to one 16-byte-per-pair Arrow collect — the
#: same small-side auto-switch as the GD/BPE trainers. 1M pairs is
#: ~16 MB on the driver; above it, nothing pair-sized leaves the
#: executors.
DRIVER_CC_MAX_PAIRS = 1_000_000

#: Below this row count the 2×iters scheduled jobs of the distributed
#: GD loop are pure overhead next to one (n × 6 doubles ≤ ~48 MB)
#: Arrow collect — the same small-side auto-switch as PageRank's
#: broadcast limit. Above it, nothing feature-sized ever leaves the
#: executors.
DRIVER_GD_MAX_ROWS = 1_000_000

#: Below this word-TYPE count the per-round scheduled job (hash agg +
#: 1-row argmax) is pure overhead next to one vocab-sized Arrow collect
#: — run the identical merge loop driver-side (the type table is a few
#: MB; the corpus-sized tokenize pass stays distributed either way).
#: Above it — web-scale vocabularies with noise tokens — every round
#: stays a distributed aggregate and nothing vocab-sized is collected.
DRIVER_BPE_MAX_TYPES = 100_000

#: Word-type cap below which the encode join-back broadcasts the
#: vocab-side piece table (the query join hint's discipline): ~1M
#: word types ≈ low hundreds of MB as a hash relation — inside the
#: guide's comfortable broadcast range. Above it the join runs
#: un-hinted and the planner shuffles BOTH sides by word — the correct
#: corpus-scale shape (never broadcast the occurrence table).
MAX_BROADCAST_WORDS = 1_000_000

#: Planned bytes (:func:`planned_bytes`) up to which a partitioned
#: write runs as ONE task (``coalesce(1)``) instead of shuffling every
#: row by the partition column first. One task writes one file per
#: partition value, the layout the shuffle exists to produce, without
#: the shuffle's map job and bytes; past the cap the shuffle's
#: parallel write wins. Set from a crossover run of both layouts (warm
#: runs, median of 3, 4 cores, local FS; seconds one task / shuffled),
#: by planned bytes. Upserts of 2 % and 10 % deltas (half updates, half
#: new keys) into 12-partition sinks: 0.09 MB 1.13 / 1.28, 0.23 MB
#: 0.85 / 0.96, 0.44 MB 0.92 / 0.89, 0.62 MB 0.92 / 1.02, 0.93 MB
#: 0.97 / 1.07, 1.28 MB 1.06 / 1.01, 1.5 MB 1.07 / 0.92, 3.4 MB
#: 1.43 / 1.06, 10.8 MB 2.82 / 1.55, 20 MB 5.39 / 2.28. IVF-PQ appends
#: of 64-dim vectors, whose encode kernel runs in the one task too:
#: 0.05 MB 0.97 / 1.05, 0.5 MB 1.02 / 1.14, 1.24 MB 1.19 / 1.07,
#: 2.5 MB 1.50 / 1.32, 9.9 MB 3.59 / 2.50. One task won or tied up to
#: about 1 MB and lost from 1.24 MB on.
MAX_ONE_TASK_WRITE_BYTES = 1 << 20

#: The one logger of automatic strategy decisions. Each record carries
#: the fields ``site``, ``path`` (the strategy taken: ``"driver"`` or
#: ``"distributed"`` for a driver offload; a site choosing between
#: other strategies names them, such as ``"one_task"``/``"shuffle"``
#: for a partitioned write or ``"flat"``/``"two_level"`` for the coarse
#: quantizer), ``rows``, ``bytes`` (the measured bytes: the driver
#: bytes of a driver path, a write's planned bytes; 0 where a site
#: decides on a count alone) and ``cap`` as attributes.
DECISION_LOGGER = "s3_elasticsearch_data_pipeline_spark.decisions"


def decide(site: str, rows: int, nbytes: int, *limits,
           paths: tuple[str, str] = ("driver", "distributed")) -> str | None:
    """THE strategy switch: judge ``limits``, ``(cap name, measured
    value, cap)`` triples, in order, and log one decision event at
    ``site`` for ``rows`` rows of ``nbytes`` bytes. Returns the name of
    the first cap the value is over (the path ``paths[1]``, by default
    the distributed one), or None for ``paths[0]``. A cap of None
    judges nothing."""
    cap = next((name for name, value, limit in limits
                if limit is not None and value > limit), None)
    path = paths[1] if cap else paths[0]
    logging.getLogger(DECISION_LOGGER).info(
        "decision site=%s path=%s rows=%d bytes=%d cap=%s",
        site, path, rows, nbytes, cap,
        extra={"site": site, "path": path, "rows": rows, "bytes": nbytes,
               "cap": cap})
    return cap


def fetch(frame: DataFrame, site: str, max_rows: int,
          max_bytes: int | None = None, row_bytes=None, *,
          _one_task: bool = False):
    """THE capped driver fetch: ONE ``limit(max_rows + 1)`` action is
    both the driver path's read and the switch (:func:`decide`, logged
    at ``site``). Returns ``(table, None)``, the rows as an Arrow table,
    or ``(None, cap)`` with the cap that tripped: the caller keeps its
    distributed plan. More than ``max_rows`` raw rows trip ``"rows"``;
    rows × ``row_bytes`` over ``max_bytes`` trip ``"bytes"`` whatever
    the row count (no caller's row cap scales a byte cap).
    ``row_bytes`` is an int, a function of the table, or None for the
    table's Arrow bytes per row.

    The shape comes from the optimized plan, and none is the two-stage
    CollectLimit that shuffles every fetched row to one partition:

    - a ``LocalRelation``: a limit collect, answered without a job;
    - projections over another leaf (a scan, a checkpoint, an RDD):
      ``coalesce(1)`` first, one job whose one task stops after
      ``max_rows + 1`` rows;
    - anything else: a limit collect, which Spark runs as a top-k over
      a sort, else in scale-up rounds, one job each, whose partitions
      each send up to ``max_rows + 1`` rows, so a selective scan stays
      parallel. With an int ``row_bytes`` the first round reads as
      many partitions as ``max_bytes`` holds at that many rows each.

    ``_one_task`` takes the one-task shape on any plan but a local
    relation, for a frame that is cheap to read serially."""
    node = frame._jdf.queryExecution().optimizedPlan()
    while node.children().size() == 1 and node.nodeName() == "Project":
        node = node.children().apply(0)
    if node.nodeName() != "LocalRelation" and (
            _one_task or node.children().size() == 0):
        table = frame.coalesce(1).limit(max_rows + 1).toArrow()
    else:
        first_round = contextlib.nullcontext()
        if isinstance(row_bytes, int) and max_bytes is not None:
            per_partition = (max_rows + 1) * max(row_bytes, 1)
            first_round = scoped_conf(
                frame.sparkSession, "spark.sql.limit.initialNumPartitions",
                str(max(max_bytes // per_partition, 1)))
        with first_round:
            rows = frame.limit(max_rows + 1).collect()
        table = pa.Table.from_pylist([r.asDict(True) for r in rows],
                                     schema=to_arrow_schema(frame.schema))
    n = table.num_rows
    if row_bytes is None:
        row_bytes = table.nbytes // max(n, 1)
    elif callable(row_bytes):
        row_bytes = row_bytes(table)
    cap = decide(site, n, n * row_bytes, ("rows", n, max_rows),
                 ("bytes", n * row_bytes, max_bytes))
    return (None if cap else table), cap


def planned_bytes(frame: DataFrame) -> int:
    """The bytes ``frame`` reads, as planned: the sum of the size
    estimates of its optimized plan's leaves, which costs no job. A
    path-based file scan counts every file under its root, partition
    filters or not, so the sum bounds what the frame reads. Leaves, not
    the root: the root's estimate multiplies across a join. A leaf
    Spark cannot size (an RDD-backed frame, such as one built from a
    Python list) makes the whole frame Long.MaxValue."""
    unknown = frame.sparkSession._jsparkSession.sessionState().conf() \
        .defaultSizeInBytes()
    leaves = frame._jdf.queryExecution().optimizedPlan().collectLeaves()
    sizes = [int(leaves.apply(i).stats().sizeInBytes())
             for i in range(leaves.size())]
    return sum(sizes) if all(s < unknown for s in sizes) else (1 << 63) - 1


def by_partition(frame: DataFrame, site: str,
                 partition_col: str) -> DataFrame:
    """``frame`` laid out for a ``partitionBy(partition_col)`` write,
    decided (and logged at ``site``) on its :func:`planned_bytes`
    against :data:`MAX_ONE_TASK_WRITE_BYTES`: ``coalesce(1)`` up to the
    cap (path ``one_task``), else ``repartition(partition_col)`` (path
    ``shuffle``, cap ``bytes``).

    Either way each partition value is written by one task, so the
    write leaves one file per partition directory. Without either,
    every upstream task opens a writer per partition value it sees: up
    to tasks × values tiny files (the classic partitioned-write
    small-files bug; 512 files for a 16-cell index was measured). At
    corpus scale, cap the file size with
    ``spark.sql.files.maxRecordsPerFile`` rather than add partitions.
    The one task also runs the frame's last stage, so a kernel feeding
    the write (an encode, an assignment) runs serially below the cap."""
    nbytes = planned_bytes(frame)
    if decide(site, 0, nbytes, ("bytes", nbytes, MAX_ONE_TASK_WRITE_BYTES),
              paths=("one_task", "shuffle")):
        return frame.repartition(partition_col)
    return frame.coalesce(1)
