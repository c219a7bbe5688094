"""Loop scoping: the one place an iterative operator decides its shuffle
partition count and whether its node-sized frame is broadcast.

Why loops size to the measured graph: a session's
``spark.sql.shuffle.partitions`` is tuned for the corpus, but a loop
round shuffles frames bounded by the graph (or fit sample) it iterates
over. On a small graph the corpus-sized count is pure task-scheduling
overhead paid every round. :func:`loop_parts` derives the count from the
measured sizes — about 250k nodes or 1M edge rows per task, whichever
needs more (a node count alone would put a dense graph's 100M join rows
in 4 tasks), floored at 4 and capped at the session value so big graphs
keep full parallelism — and :func:`scoped_conf` applies it to exactly
the loop. Every loop here computes integer or min/argmax algebra, so the
partition count cannot change a result.

Why an explicit hint must re-check the threshold: ``F.broadcast`` bypasses
``spark.sql.autoBroadcastJoinThreshold``, so a loop that hints its frame
would broadcast it even in a session whose operator sized the threshold
down or disabled broadcasting with ``-1``. :func:`fits_broadcast` applies
the session's own threshold to an estimated frame size instead. Past the
gate the loop keeps the shuffle join that scales to billion-node graphs;
join strategy cannot change a result either.
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager

from pyspark.sql import SparkSession

__all__ = [
    "ROW_BYTES",
    "SHUFFLE_PARTITIONS",
    "broadcast_threshold",
    "session_shuffle_parts",
    "fits_broadcast",
    "loop_parts",
    "scoped_conf",
]

# serialized estimate per (node: long, value: long) broadcast row —
# two 8-byte values plus UnsafeRow/broadcast-table overhead
ROW_BYTES = 48

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_THRESHOLD_KEY = "spark.sql.autoBroadcastJoinThreshold"

# one warning per process for an unparseable broadcast threshold conf
_WARNED_UNPARSEABLE_THRESHOLD = False


def broadcast_threshold(spark: SparkSession) -> int:
    """The session's spark.sql.autoBroadcastJoinThreshold in bytes
    (0 when broadcasting is disabled with -1)."""
    raw = str(spark.conf.get(_THRESHOLD_KEY, "10485760")).strip().lower()
    mult = 1
    for suffix, m in (
        ("k", 1 << 10),
        ("m", 1 << 20),
        ("g", 1 << 30),
        ("t", 1 << 40),
        ("p", 1 << 50),
    ):
        if raw.rstrip("b").endswith(suffix):
            raw, mult = raw.rstrip("b")[: -len(suffix)], m
            break
    else:
        raw = raw.removesuffix("b")
    try:
        val = int(raw) * mult
    except ValueError:
        # unparseable conf -> 0, the always-correct shuffle path: a
        # session that set a garbage threshold may have MEANT to
        # disable broadcasting, and silently assuming the 10MB default
        # would re-enable per-iteration broadcasts. Warn once so a
        # merely-malformed threshold (stray whitespace, an unsupported
        # suffix) is diagnosable instead of silently degrading every
        # loop broadcast to a shuffle join.
        global _WARNED_UNPARSEABLE_THRESHOLD
        if not _WARNED_UNPARSEABLE_THRESHOLD:
            _WARNED_UNPARSEABLE_THRESHOLD = True
            warnings.warn(
                f"{_THRESHOLD_KEY} is unparseable "
                f"({spark.conf.get(_THRESHOLD_KEY)!r});"
                " treating as 0 — loop operators will use shuffle joins"
                " instead of broadcasts",
                RuntimeWarning,
                stacklevel=2,
            )
        val = 0
    return max(val, 0)


def session_shuffle_parts(spark: SparkSession) -> int | None:
    """The session's spark.sql.shuffle.partitions as an int, or None
    when the conf is non-integer (e.g. ``"auto"`` on runtimes with
    their own adaptive sizing). Loops SKIP their scoped override in
    that case: such a runtime is already sizing partitions itself, and
    a bare int() would raise out of the query instead of degrading."""
    try:
        return int(spark.conf.get(SHUFFLE_PARTITIONS))
    except (TypeError, ValueError):
        return None


def fits_broadcast(spark: SparkSession, n_rows: int) -> bool:
    """Whether ``n_rows`` rows of ``ROW_BYTES`` each fit the session's
    broadcast threshold."""
    return n_rows * ROW_BYTES <= broadcast_threshold(spark)


def loop_parts(spark: SparkSession, nodes: int = 0, edges: int = 0) -> int | None:
    """Shuffle partitions for a loop over ``nodes`` nodes and ``edges``
    edge rows: max(4, nodes/250k, edges/1M) rounded up, capped at the
    session value; None when the session conf is not an integer."""
    session = session_shuffle_parts(spark)
    if session is None:
        return None
    return min(session, max(4, -(-nodes // 250_000), -(-edges // 1_000_000)))


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: int | str | None):
    """Set ``key`` to ``value`` for the body, then restore it. A no-op
    when ``value`` is None. ``conf.get(key, None)`` returns None for a
    key that was never explicitly set (the registered default is not
    surfaced), so the restore unsets it then — setting it back would
    leak an override into every later query on the session."""
    if value is None:
        yield
        return
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
