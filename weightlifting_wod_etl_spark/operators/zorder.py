"""Z-order (Morton) clustering — multi-dimensional data layout for scan
pruning, the technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``.

Why it matters at 100 TB: parquet skips row groups (and Spark skips files)
by min/max column statistics. Sorting by ONE column makes its stats tight
but leaves every other column's min/max spanning the whole domain — a
filter on the second column prunes nothing. Interleaving the bits of K
columns into one Morton key and range-partition-sorting by it gives every
participating column locality: each file covers a small hyper-rectangle,
so per-file min/max stats are tight in ALL K dimensions and selective
filters on ANY of them skip most of the data.

Implementation is pure JVM expressions (bit ops unrolled at plan build —
no UDF): each column is first normalized to an unsigned ``bits``-wide
integer via a caller-chosen monotone mapping (modulo/bucket/rank) that
should FILL the ``bits`` range — a dimension occupying fewer effective
bits than its peers contributes nothing at the top of the key and barely
clusters (test_zorder.py demonstrates the failure and the fix). Then
bit ``i`` of column ``k`` lands at position ``i*K + k`` of the key. The
write is one shuffle that routes each row to the file owning its key's
EXPLICIT bucket (``floor(key / ceil(domain / num_files))``) +
``sortWithinPartitions`` (cluster within each file).

Why explicit buckets and not ``repartitionByRange``: the range
partitioner SAMPLES the key to pick boundaries, and its sample is seeded
by RDD id — the same write in a fresh session and in a long-lived one
produces different file spans, files drift off quadrant alignment, and
pruning effectiveness becomes nondeterministic (observed: a narrow band
keeping 9/16 files in a full test session vs 4/16 in isolation). Layout
is a CONTRACT here, so bucket boundaries are computed from the key
domain, never sampled: file ``i`` owns exactly
``[i*width, (i+1)*width)`` of the key space, bit-for-bit reproducible
regardless of session history. Rows reach their bucket's partition via a
hash-marker mapping (see :func:`_partition_markers`) so the one shuffle
is a plain hash exchange with a deterministic bucket→partition map.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def morton_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each (non-negative int) column
    into one Morton key; K·bits must fit a long (K·bits ≤ 63)."""
    k = len(cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols × {bits} bits exceeds a signed long")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * k + j))
    return key


# marker cache: num_partitions -> one long per partition index whose
# Murmur3 hash lands there. Murmur3 is a fixed function, so the search
# result never varies — caching just avoids re-running the tiny probe job.
_MARKERS: dict[int, list[int]] = {}


def _partition_markers(spark: SparkSession, n: int) -> list[int]:
    """For each partition index ``i`` in ``range(n)``, a long ``m`` with
    ``pmod(murmur3(m), n) == i`` — so ``repartition(n, <long expr>)`` can
    be steered to an EXACT target partition by emitting the marker for it.

    Spark exposes no explicit-assignment partitioner on DataFrames
    (``repartitionByRange`` samples, ``repartition`` hashes); probing the
    hash function and routing through markers recovers deterministic
    placement while staying a plain hash exchange. The probe asks Spark
    itself for the hashes (self-consistent with the shuffle's function by
    construction) over a tiny sequential range — no sampling anywhere."""
    if n not in _MARKERS:
        found: dict[int, int] = {}
        lo = 0
        while len(found) < n:
            probe = (
                spark.range(lo, lo + 32 * n)
                .select(
                    F.col("id").alias("v"),
                    F.pmod(F.hash(F.col("id")), F.lit(n)).alias("p"),
                )
                .collect()
            )
            for r in probe:
                found.setdefault(r.p, r.v)
            lo += 32 * n
        _MARKERS[n] = [found[i] for i in range(n)]
    return _MARKERS[n]


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    num_files: int = 8,
    data_dir: str | None = None,
) -> None:
    """Write ``df`` as parquet clustered by the Morton key of ``cols``
    (columns must already be non-negative ints < 2^bits — normalize with
    a modulo/bucket expression first). One hash shuffle; up to
    ``num_files`` output files (empty buckets write nothing), file ``i``
    covering EXACTLY keys ``[i*width, (i+1)*width)`` with
    ``width = ceil(2^(K*bits) / num_files)`` — boundaries derive from the
    key domain, not from sampling, so the layout is identical on every
    write (the repartitionByRange version drifted with session history).

    The footer-stats skipping index over the clustered columns is always
    persisted with the data — the layout exists to make pruning
    effective, so ``io.read_pruned`` should find its index ready rather
    than re-reading footers.

    The write is one ``versioned.commit_version``, same as
    ``compact_parquet`` and ``merge_into``, so re-clustering a LIVE table
    leaves exactly the old or exactly the new layout. Read results back
    with ``io.read_table`` / ``versioned.resolve``, not a raw
    ``spark.read.parquet(path)``.

    ``data_dir``: when re-clustering a LIVE table (``df`` built from
    ``read_table(path)``), pass the resolved version dir those read plans
    were built against (``versioned.resolve(path)``) — the commit's read
    base, as compact_parquet/merge_into pass theirs. Without it a writer
    that committed between the read and this call is silently discarded
    (lost update)."""
    from .versioned import commit_version

    if "__zkey" in df.columns:
        # withColumn would silently REPLACE the user's column and the
        # final drop would delete it from the committed table
        raise ValueError(
            "zorder_write uses '__zkey' as its internal routing column; "
            "rename the input column before clustering"
        )
    domain = 1 << (len(cols) * bits)
    width = -(-domain // num_files)  # ceil — last bucket may be partial
    markers = _partition_markers(df.sparkSession, num_files)
    # `div` = integer division on longs — a double `/` would lose exactness
    # past 2^53 (K·bits can legally reach 63)
    route = F.element_at(
        F.array(*[F.lit(m).cast("long") for m in markers]),
        F.expr(f"cast(__zkey div {width}L as int) + 1"),
    )
    keyed = df.withColumn("__zkey", morton_key(cols, bits))
    out = (
        keyed.repartition(num_files, route)
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    commit_version(path, out, base=data_dir, index_cols=cols)
