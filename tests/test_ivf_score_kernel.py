"""The IVF coarse-score kernel (``plans/pipeline.py::_ivf_score_kernel``)
tested directly, without Spark: chunking the centroid axis must not change
a single bit of any score, and the per-chunk memory must follow the byte
budget rather than the codebook size."""

import tracemalloc

import numpy as np
import pandas as pd

from nexmark_vanilla_flink_spark.plans.pipeline import (
    _IVF_SCORE_BLOCK_BYTES,
    _ivf_score_kernel,
)


def _batch(rng, n, dim, id0=0):
    V = rng.standard_normal((n, dim))
    return pd.DataFrame(
        {
            "vec_id": np.arange(id0, id0 + n, dtype=np.int64),
            "v": list(V),
            "nrm": np.sqrt((V * V).sum(axis=1)),
        }
    )


def _codebook(rng, S, dim):
    C = rng.standard_normal((S, dim))
    return C, np.sqrt((C * C).sum(axis=1)), np.arange(S, dtype=np.int64) * 7


def _unchunked(pdf, C, CN, CID):
    """The kernel before chunking: one dense (rows x S) block per batch."""
    V = np.vstack(pdf["v"].to_numpy())
    S = len(CID)
    dot = np.zeros((len(pdf), S))
    for i in range(V.shape[1]):
        dot = dot + V[:, i][:, None] * C[:, i][None, :]
    cs_raw = dot / (pdf["nrm"].to_numpy()[:, None] * CN[None, :])
    return pd.DataFrame(
        {
            "vec_id": np.repeat(pdf["vec_id"].to_numpy(), S).astype("int64"),
            "c_id": np.tile(CID, len(pdf)),
            "cs_raw": cs_raw.reshape(-1),
        }
    )


def _sorted(df):
    return df.sort_values(["vec_id", "c_id"], kind="stable").reset_index(
        drop=True
    )


def test_chunked_scores_bit_identical_to_dense_block():
    rng = np.random.default_rng(7)
    dim, S = 24, 301
    C, CN, CID = _codebook(rng, S, dim)
    batches = [_batch(rng, 97, dim), _batch(rng, 0, dim), _batch(rng, 40, dim, 97)]
    want = _sorted(
        pd.concat([_unchunked(b, C, CN, CID) for b in batches if len(b)])
    )
    # 10_000 bytes hold 97 rows x 12 centroids: 26 chunks per 97-row
    # batch, the last one partial; 8 bytes fall back to one centroid
    for block_bytes in (10_000, 8, _IVF_SCORE_BLOCK_BYTES):
        kernel = _ivf_score_kernel(C, CN, CID, block_bytes=block_bytes)
        frames = list(kernel(iter(batches)))
        got = _sorted(pd.concat(frames))
        assert got["vec_id"].tolist() == want["vec_id"].tolist()
        assert got["c_id"].tolist() == want["c_id"].tolist()
        assert np.array_equal(
            got["cs_raw"].to_numpy().view(np.int64),
            want["cs_raw"].to_numpy().view(np.int64),
        ), block_bytes
    assert len(frames) == 2  # the default budget takes each batch whole


def test_chunk_memory_follows_budget_not_codebook():
    rng = np.random.default_rng(11)
    n, dim, S = 256, 8, 200_000  # the dense block would be 400 MB
    block_bytes = 1 << 20
    C, CN, CID = _codebook(rng, S, dim)
    pdf = _batch(rng, n, dim)
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        n_frames, rows = 0, 0
        for frame in _ivf_score_kernel(C, CN, CID, block_bytes)(iter([pdf])):
            assert len(frame) * 8 <= block_bytes
            n_frames += 1
            rows += len(frame)
            del frame
        peak = tracemalloc.get_traced_memory()[1] - base
    finally:
        tracemalloc.stop()
    assert rows == n * S
    assert n_frames == -(-S // (block_bytes // (8 * n)))
    # each chunk holds the accumulator, its product buffer, three output
    # columns and pandas' block copies — a small multiple of the budget,
    # against n * S * 8 / block_bytes = 390x for the dense block
    assert peak <= 10 * block_bytes, peak
