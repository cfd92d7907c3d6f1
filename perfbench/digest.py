"""Order-independent digests of scored pages and of released tables.

A digest is ``(rows, sum of 64-bit row hashes mod 2**64)``: the sum is the
same for any row order and any split into partitions, and changes when a
row is added, dropped, duplicated or altered.  Row hashes are BLAKE2b over
an exact encoding — doubles by their IEEE bits, so a digest match means
bit-identical features and scores.  The same functions run in Spark's
Python workers and in the driver, so the two sides cannot disagree on
encoding.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

MASK = (1 << 64) - 1
SCORED_COLUMNS = ("url", "text", "features", "pred_label", "p_nonreadable")


def _h(parts: list[bytes]) -> int:
    return int.from_bytes(hashlib.blake2b(b"\x1f".join(parts), digest_size=8).digest(), "little")


def scored_row_hash(url: str, text: str, features: np.ndarray, pred: int, p: float) -> int:
    return _h(
        [
            url.encode(),
            text.encode(),
            np.ascontiguousarray(features, dtype="<f8").tobytes(),
            struct.pack("<i", int(pred)),
            struct.pack("<d", float(p)),
        ]
    )


def scored_batch(urls, texts, feats: np.ndarray, preds, ps) -> tuple[int, int]:
    """Digest of parallel sequences; ``feats`` is an (n, k) float64 matrix."""
    s = 0
    for i, u in enumerate(urls):
        s += scored_row_hash(u, texts[i], feats[i], preds[i], ps[i])
    return len(urls), s & MASK


def scored_record_batch(rb) -> tuple[int, int]:
    """Digest of an Arrow batch holding ``SCORED_COLUMNS``."""
    n = rb.num_rows
    if n == 0:
        return 0, 0
    col = rb.schema.get_field_index
    feats = rb.column(col("features"))
    flat = feats.flatten().to_numpy(zero_copy_only=False).reshape(n, len(feats[0]))
    return scored_batch(
        rb.column(col("url")).to_pylist(),
        rb.column(col("text")).to_pylist(),
        flat,
        rb.column(col("pred_label")).to_pylist(),
        rb.column(col("p_nonreadable")).to_pylist(),
    )


def table_scored_digest(table) -> tuple[int, int]:
    """Digest of an Arrow table holding ``SCORED_COLUMNS``."""
    return combine(scored_record_batch(rb) for rb in table.to_batches())


def combine(parts) -> tuple[int, int]:
    n = s = 0
    for pn, ps in parts:
        n += pn
        s += ps
    return n, s & MASK


def spark_scored_digest(scored) -> tuple[int, int]:
    """Digest of a scored DataFrame, computed in Spark's Python workers."""

    def run(batches):
        import pyarrow as pa

        n = s = 0
        for rb in batches:
            bn, bs = scored_record_batch(rb)
            n, s = n + bn, (s + bs) & MASK
        # int64 column: carry the unsigned sum as its two's-complement value
        yield pa.RecordBatch.from_pydict(
            {"n": [n], "s": [s - (1 << 64) if s >= 1 << 63 else s]}
        )

    rows = scored.select(*SCORED_COLUMNS).mapInArrow(run, "n long, s long").collect()
    return combine((r["n"], r["s"] & MASK) for r in rows)


def table_digest(table) -> tuple[int, int]:
    """Digest of an Arrow table over all columns, by column name.  Values
    are encoded by ``repr``, which round-trips Python floats exactly."""
    names = sorted(table.column_names)
    cols = [table.column(c).to_pylist() for c in names]
    s = 0
    for row in zip(*cols):
        s += _h([f"{n}={v!r}".encode() for n, v in zip(names, row)])
    return table.num_rows, s & MASK
