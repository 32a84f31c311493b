"""The benchmark's input: a tokens table written with NumPy and pyarrow.

It has the shape and distributions of ``kglids_spark.sources.tokens``
(``doc_id / tokens / n_tok / source``, lognormal ``n_tok``, uniform token
ids, the same source mixture) and the same planted violations, keyed
on the row number exactly as there. It is written in the benchmark's
own process while the JVM starts, so generating the input costs a run
no Spark job, and the input does not change when the program's own
generator does. The same ``seed`` gives the same files.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kglids_spark.sources.tokens import MAX_NTOK, NTOK_MU, NTOK_SIGMA, SOURCE_VOCAB, VOCAB_SIZE


def tokens_table(rows: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    ids = np.arange(rows)
    planted = ids > 0
    length = np.clip(np.rint(np.exp(NTOK_MU + NTOK_SIGMA * rng.standard_normal(rows))), 1, MAX_NTOK)
    length = length.astype(np.int32)
    offsets = np.zeros(rows + 1, np.int32)
    np.cumsum(length, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(rng.integers(0, VOCAB_SIZE, int(offsets[-1]), dtype=np.int32))
    )
    names = np.array([s for s, _ in SOURCE_VOCAB], dtype=object)
    probs = np.array([p for _, p in SOURCE_VOCAB])
    source = names[rng.choice(len(names), rows, p=probs / probs.sum())]

    # the planted violations of kglids_spark.sources.tokens, row for row
    key = ids.copy()
    dup = planted & (ids % 10007 == 0)
    key[dup] -= 1  # repeats its predecessor's doc_id
    doc_id = np.array([f"doc-{k:012d}" for k in key], dtype=object)
    doc_id[planted & (ids % 11003 == 0)] = None
    n_tok = length.copy()
    out_of_range = planted & (ids % 9973 == 0)
    n_tok[out_of_range] = np.where((ids[out_of_range] // 9973) % 2 == 0, 0, 200_000)
    off_by_one = planted & (ids % 8191 == 0)
    n_tok[off_by_one] = length[off_by_one] + 1
    source[planted & (ids % 7919 == 0)] = "__unknown__"

    return pa.table({
        "doc_id": pa.array(doc_id, pa.string()),
        "tokens": tokens,
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": pa.array(source, pa.string()),
    })


def write_tokens(path: Path, rows: int, seed: int, files: int) -> None:
    """Write the table as ``files`` parquet files of consecutive rows."""
    table = tokens_table(rows, seed)
    path.mkdir(parents=True, exist_ok=True)
    step = -(-rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")
