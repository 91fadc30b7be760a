"""Driver-side microbench of the ``io.fls_kernels`` codecs.

Each codec encodes and decodes the same seeded sample of 1024-value vectors
drawn from catalog columns that suit it, and reports nanoseconds per value
(median over repetitions). Every decode is checked against its input.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from duckdb_fastlanes_spark.io import fls_kernels as K

N_VECTORS = 16
REPS = 5


def _vectors(values: np.ndarray, rng: np.random.Generator, sort: bool = False) -> list[np.ndarray]:
    starts = rng.integers(0, max(1, len(values) - K.VEC_SZ), N_VECTORS)
    out = [values[s : s + K.VEC_SZ] for s in starts]
    return [np.sort(v) for v in out] if sort else out


def samples(sf_dir: str, seed: int) -> dict[str, list]:
    """Seeded sample vectors per codec, from the catalog in ``sf_dir``."""
    rng = np.random.default_rng(seed)
    li = pq.read_table(
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_linenumber", "l_extendedprice", "l_tax"],
    )
    keys = li["l_orderkey"].to_numpy()
    lines = li["l_linenumber"].to_numpy().astype(np.int64)
    price = li["l_extendedprice"].to_numpy()
    tax_cents = np.round(li["l_tax"].to_numpy() * 100).astype(np.int64)
    text = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["text"])
    docs = [t.encode() for t in text["text"].to_pylist()]
    picks = rng.integers(0, len(docs), N_VECTORS)
    return {
        "ffor": _vectors(keys, rng),
        "slpatch": _vectors(keys, rng),
        "rle": _vectors(lines, rng, sort=True),
        "alp": _vectors(price, rng),
        "freq": _vectors(tax_cents, rng),
        "fsst": [docs[int(i)] for i in picks],
    }


def _codec(name: str):
    """(encode(v) -> encoded, decode(encoded, v) -> decoded) for one codec."""
    if name == "ffor":
        return K.ffor_encode, lambda e, v: K.ffor_decode(*e, len(v))
    if name == "slpatch":
        return K.slpatch_encode, lambda e, v: K.slpatch_decode(e[0], e[1], e[2], len(v), e[3], e[4])
    if name == "rle":
        return K.rle_encode, lambda e, v: K.rle_decode(*e)
    if name == "freq":
        return K.freq_encode, lambda e, v: K.freq_decode(*e, len(v))
    if name == "alp":
        def enc(v):
            ef = K.alp_choose(v)
            return (*K.alp_encode(v, *ef), ef)

        return enc, lambda e, v: K.alp_decode(e[0], *e[3], e[1], e[2])
    if name == "fsst":
        def enc(blob):
            table = K.fsst_build_table(blob)
            return K.fsst_encode(blob, table), table

        return enc, lambda e, v: K.fsst_decode(*e)
    raise KeyError(name)


def microbench(sf_dir: str, seed: int) -> dict[str, float]:
    """``fls_kernels.<codec>.{encode,decode}_ns_per_value`` for every codec."""
    out: dict[str, float] = {}
    for name, vecs in samples(sf_dir, seed).items():
        encode, decode = _codec(name)
        n_values = sum(len(v) for v in vecs)
        enc_ns, dec_ns = [], []
        for _ in range(REPS):
            t0 = time.perf_counter_ns()
            encoded = [encode(v) for v in vecs]
            t1 = time.perf_counter_ns()
            decoded = [decode(e, v) for e, v in zip(encoded, vecs)]
            t2 = time.perf_counter_ns()
            enc_ns.append((t1 - t0) / n_values)
            dec_ns.append((t2 - t1) / n_values)
        for v, d in zip(vecs, decoded):
            same = v == d if isinstance(v, bytes) else np.array_equal(np.asarray(d), v)
            if not same:
                raise AssertionError(f"fls_kernels.{name}: decode does not match its input")
        out[f"fls_kernels.{name}.encode_ns_per_value"] = statistics.median(enc_ns)
        out[f"fls_kernels.{name}.decode_ns_per_value"] = statistics.median(dec_ns)
    return out
