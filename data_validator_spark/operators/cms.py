"""Count-Min sketch: mergeable point-frequency estimates.

Complements the sketch tier: Misra–Gries (heavy_hitters.py) answers
"which values dominate", CMS answers "how often does THIS value
occur" for any value, in O(depth x width) space with a one-sided
error guarantee (Cormode & Muthukrishnan, J. Algorithms 2005):

  exact <= est,   and   Pr[est > exact + (e/width) * N] <= e^-depth

per queried key, where N is the total sketched count. Both bounds
are the oracle gate (q84): overestimate-only is structural (counts
only ever add), the epsilon bound holds deterministically at the
fixed seed.

Distributed shape (same as the Misra–Gries partials in this repo):
map-side partials build one depth x width int64 matrix per
partition — value_counts per chunk, unique items hashed once,
np.add.at scatter — and emit the matrix as depth*width (idx, cnt)
rows ONCE per partition; the shuffle carries only sketch cells
(depth*width rows per partition, independent of data size), and the
merge is a plain groupBy-sum on idx because CMS merge IS elementwise
addition. The merged table (idx, cnt) is a persistable snapshot —
store it next to the KLL/HLL snapshot state (plans/snapshots)
and point-query historical baselines without the raw data.

Point queries are relational too: each key expands to `depth` probe
cells, a broadcast join picks the matching cells out of the sketch
table, and min(cnt) per key is the estimate — no driver-side sketch
materialization needed (though at depth*width ~ 4k rows that would
also be legitimate).
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PRIME = (1 << 61) - 1  # Mersenne prime for universal hashing


def _hash64(item: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(item.encode("utf-8"), digest_size=8).digest(), "little"
    )


def _row_params(depth: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _PRIME, size=depth, dtype=np.int64)
    b = rng.randint(0, _PRIME, size=depth, dtype=np.int64)
    return a, b


def _cells(items: Sequence[str], depth: int, width: int, seed: int) -> np.ndarray:
    """(len(items) x depth) matrix of flattened cell indices
    idx = j*width + ((a_j*h + b_j) mod p mod width)."""
    a, b = _row_params(depth, seed)
    h = np.array([_hash64(s) for s in items], dtype=object)  # exact int math
    cells = np.empty((len(items), depth), dtype=np.int64)
    for j in range(depth):
        cells[:, j] = np.array(
            [(int(a[j]) * int(x) + int(b[j])) % _PRIME % width for x in h],
            dtype=np.int64,
        ) + j * width
    return cells


def cms_sketch(
    df: DataFrame, col: str, depth: int = 4, width: int = 1024, seed: int = 0
) -> DataFrame:
    """-> merged sketch table (idx long, cnt long), depth*width rows
    (zero cells omitted). Nulls are excluded (their share is
    profile()'s null_rate). N (total sketched count) is recoverable
    as sum(cnt)/depth — every item increments exactly `depth` cells."""
    proj = df.select(F.col(col).cast("string").alias("_item")).filter(
        F.col("_item").isNotNull()
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat = np.zeros(depth * width, dtype=np.int64)
        buf: list[pd.Series] = []
        buf_rows = 0

        def _fold() -> None:
            nonlocal buf, buf_rows
            if not buf:
                return
            s = pd.concat(buf, ignore_index=True)
            buf, buf_rows = [], 0
            vc = s.value_counts()
            cells = _cells(vc.index.to_numpy(), depth, width, seed)
            counts = vc.to_numpy(np.int64)
            for j in range(depth):
                np.add.at(mat, cells[:, j], counts)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            buf.append(pdf["_item"])
            buf_rows += len(pdf)
            if buf_rows >= (1 << 16):
                _fold()
        _fold()
        nz = np.nonzero(mat)[0]
        if len(nz):
            yield pd.DataFrame({"idx": nz, "cnt": mat[nz]})

    parts = proj.mapInPandas(partials, schema="idx long, cnt long")
    return parts.groupBy("idx").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    spark: SparkSession,
    sketch: DataFrame,
    keys: Sequence[str],
    depth: int = 4,
    width: int = 1024,
    seed: int = 0,
) -> DataFrame:
    """-> (item string, est long) point estimates for `keys`.
    Each key probes its `depth` cells via a broadcast join against
    the sketch table; min over rows is the CMS estimate. A key whose
    cells are all zero (absent from the sketch's nonzero cells)
    estimates 0 via the left join's coalesce."""
    rows = []
    cells = _cells(list(keys), depth, width, seed)
    for i, k in enumerate(keys):
        for j in range(depth):
            rows.append((k, int(cells[i, j])))
    probes = spark.createDataFrame(rows, "item string, idx long")
    joined = probes.join(F.broadcast(sketch), "idx", "left").select(
        "item", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("item").agg(F.min("cnt").alias("est"))
