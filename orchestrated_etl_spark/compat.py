"""The staging layer: one shuffle-width rule, one store for staged
relations, and the Spark-Connect-safe application id.

**Width rule.** ``shuffle_width(spark)`` is ``spark.sql.shuffle.partitions``
capped at the session's task slots (``defaultParallelism``; on Spark
Connect, which has no ``SparkContext``, the conf alone). Every explicit
``repartition(n, key)`` that co-locates a join or spreads a skewed build
side is sized by it, and ``staged_checkpoint`` plans its statement with
``shuffle.partitions`` set to it, so a staged layout and the staged
aggregates that join it are both ``hashpartitioning(key, n)`` at the same
``n`` and those round joins plan with no exchange at any conf value.

The explicit count is kept on purpose. AQE coalesces a tiny input to one
partition, which would run a Python-heavy stage on one core; an explicit
count keeps it spread over the slots. AQE does not coalesce a user-given
count either, so the cap matters where ``shuffle.partitions`` exceeds the
slots: without it a vanilla session's 200 runs each explicit repartition
as 200 tiny tasks (at local[8] on a 4-core host, the affected sf0.01
queries took twice as long). ``get_spark`` sets the conf to the local
thread count, where the cap changes nothing.

**Staged relations.** ``stage(spark, name, inputs, build)`` is the one
session store for relations built once and reused by later queries
(co-purchase edges, the undirected BFS layout, the BM25 index and
store):

- key: the application id, ``name``, the shuffle width (every staged
  relation is laid out at the width it was built at), ``inputs`` (a
  file or a directory), and the path, size and mtime of every file
  under it. A rewritten input or a changed width changes the key, so no
  query reads a relation staged from the old files or at the old width.
  A path that is not on the local file system has no files to
  fingerprint: its entry lives until its name is staged again under
  another key.
- eviction: one entry per ``name``, so the store holds one input set
  per name: two fixture directories used in turn rebuild the relation
  at every switch. A new key replaces the old entry, and dropping the
  reference is all eviction does — ``DataFrame.unpersist`` does not
  reach ``localCheckpoint`` blocks or a table. Spark's context cleaner
  frees the checkpoint blocks once the evicted frame is
  garbage-collected, so a caller still holding it keeps working.
- lock: one reentrant lock guards the store and ``staged_checkpoint``'s
  conf flips. Builds that stage inside a build re-enter it; two threads
  staging at once run one after the other, and the flip always restores
  the value it found.

In local mode a staged relation is an eager ``localCheckpoint``
(``staged_checkpoint`` when a consumer joins on its hash partitioning).
In cluster mode it is a bucketed table a nightly job writes once;
``search_bm25_store_bucketed`` is that form made executable
(``saveAsTable`` bucketed by term). Both go through ``stage``.

**Connect.** A Spark Connect client has no ``SparkSession.sparkContext``
(the attribute raises ``PySparkAttributeError``). The engine makes two
classic-only reads: ``application_id`` falls back to the ``spark.app.id``
conf, and ``shuffle_width`` drops its slot cap. The grep contract in
tests/test_plan_audit.py pins ``sparkContext`` to exactly those two reads
plus session.py's log-level call in our own classic builder (the
vendored protobuf runtime is excluded wholesale), so a new classic-only
touch anywhere else fails the suite.
"""

from __future__ import annotations

import os
import threading
from typing import Callable, TypeVar

from pyspark.errors import PySparkAttributeError
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_LOCK = threading.RLock()
# name -> (key, staged value); one entry per name.
_STORE: dict[str, tuple[tuple, object]] = {}


def shuffle_width(spark: SparkSession) -> int:
    """The one width rule: ``spark.sql.shuffle.partitions``, capped at the
    task slots on a classic session (see the module docstring)."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    try:
        return min(width, spark.sparkContext.defaultParallelism)
    except PySparkAttributeError:
        # Spark Connect: no SparkContext. The exact Connect signature,
        # as in application_id — a stopped classic context raises plain
        # AttributeError, which must propagate.
        return width


def _fingerprint(path: str) -> tuple:
    """(path, size, mtime_ns) of every file under ``path``."""
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(
            os.path.join(root, f) for root, _, fs in os.walk(path) for f in fs
        )
    out = []
    for f in files:
        st = os.stat(f)
        out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out)


def stage(
    spark: SparkSession, name: str, inputs: str, build: Callable[[], T]
) -> T:
    """Return the relation staged under ``name`` for the current
    application and the current files under ``inputs``, calling
    ``build()`` (a DataFrame or a tuple of DataFrames) when there is
    none. The store holds one input set per name: staging a name from
    another directory replaces the entry. See the module docstring for
    the key, eviction and lock."""
    key = (
        application_id(spark),
        name,
        shuffle_width(spark),
        inputs,
        _fingerprint(inputs),
    )
    with _LOCK:
        old = _STORE.get(name)
        if old is not None and old[0] == key:
            return old[1]  # type: ignore[return-value]
        value = build()
        _STORE[name] = (key, value)
        return value


def staged_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` that KEEPS the plan's hash partitioning
    visible to Catalyst (r18, guide §2.1/§2.4).

    Under AQE, ``Dataset.checkpoint`` snapshots
    ``executedPlan.outputPartitioning`` from the not-yet-finalized
    ``AdaptiveSparkPlanExec``, which reports ``UnknownPartitioning`` —
    so every staged layout built with a plain ``localCheckpoint`` loses
    its partitioning and every downstream shuffle-join re-exchanges BOTH
    sides (measured: a repartition(8, id) → localCheckpoint → self-join
    planned 2 exchanges; through this helper, 0 on the staged side, and
    the probe side's exchange adopts the staged partition count). The
    fix is to plan the ONE checkpoint statement non-adaptively: the
    static plan's ``outputPartitioning`` is the real
    ``hashpartitioning(key, n)``, which ``LogicalRDD`` then preserves
    for every later consumer (those consumers still plan under AQE).
    The staging job itself is a deterministic repartition/aggregate —
    nothing AQE would improve. The statement is also planned with
    ``shuffle.partitions`` at ``shuffle_width``, so an aggregate staged
    here lands at the width of the layouts it joins. Both flips hold the
    store's lock, so concurrent callers cannot leave either conf
    changed."""
    spark = df.sparkSession
    flips = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(shuffle_width(spark)),
    }
    with _LOCK:
        prev = {k: spark.conf.get(k) for k in flips}
        for k, v in flips.items():
            spark.conf.set(k, v)
        try:
            return df.localCheckpoint(eager=True)
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


def application_id(spark: SparkSession) -> str:
    """Classic ``sc.applicationId``; on Connect read the ``spark.app.id``
    conf, else key on session identity (over-invalidates, never
    under-invalidates)."""
    try:
        return spark.sparkContext.applicationId
    except PySparkAttributeError:
        # The Connect signature EXACTLY — not bare AttributeError: a
        # STOPPED classic SparkContext raises plain AttributeError too
        # (SparkContext.stop() sets _jsc=None), and that is a real
        # classic-session error which must propagate. A missing
        # spark.app.id conf on the Connect side is tolerated — the
        # session-identity key over-invalidates, never under-invalidates.
        try:
            app_id = spark.conf.get("spark.app.id", None)
        except Exception:
            app_id = None
        return app_id or f"session-{id(spark)}"
