"""fls_native: literal FastLanes-model format — kernels, container, Spark path.

Mirrors the reference's roundtrip test strategy
(test/all_types_single_threaded.test: write → read → zero IS DISTINCT FROM
mismatches) plus property tests on each codec kernel.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_fastlanes_spark.io import fls_kernels as K
from duckdb_fastlanes_spark.io.fls_native import (
    read_file,
    read_fls_native,
    read_footer,
    write_fls_native,
    write_table,
)
from tests.conftest import SF_DIR


# ------------------------------------------------------------------- kernels
@given(
    st.integers(min_value=0, max_value=64),
    st.integers(min_value=0, max_value=2**32),
)
@settings(max_examples=30, deadline=None)
def test_pack_bits_roundtrip(width, seed):
    rng = np.random.default_rng(seed)
    hi = 2**width if width < 64 else 2**63
    v = (
        rng.integers(0, hi, size=1024, dtype=np.uint64)
        if width
        else np.zeros(1024, dtype=np.uint64)
    )
    assert (K.unpack_bits(K.pack_bits(v, width), width, 1024) == v).all()


@given(
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=0, max_value=1024),
    st.integers(min_value=0, max_value=2**32),
)
@settings(max_examples=60, deadline=None)
def test_pack_bits_matches_python_int_reference(width, n, seed):
    """The dense layout, spelled with one Python int: field i at bit i·width."""
    v = np.random.default_rng(seed).integers(0, 2**width, size=n, dtype=np.uint64)
    ref = sum(int(x) << (i * width) for i, x in enumerate(v))
    assert K.pack_bits(v, width) == ref.to_bytes((n * width + 63) // 64 * 8, "little")


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=1024))
@settings(max_examples=50, deadline=None)
def test_ffor_roundtrip(vals):
    a = np.array(vals, dtype=np.int64)
    base, w, payload = K.ffor_encode(a)
    assert (K.ffor_decode(base, w, payload, len(a)) == a).all()


def test_ffor_full_int64_range():
    a = np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -1], dtype=np.int64)
    base, w, payload = K.ffor_encode(a)
    assert (K.ffor_decode(base, w, payload, 4) == a).all()


@given(
    st.lists(
        st.one_of(
            st.decimals(
                min_value=-1e6, max_value=1e6, places=3, allow_nan=False, allow_infinity=False
            ).map(float),
            st.just(float("nan")),
            st.just(float("inf")),
            st.floats(allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=1024,
    )
)
@settings(max_examples=40, deadline=None)
def test_alp_roundtrip_with_exceptions(vals):
    v = np.array(vals, dtype=np.float64)
    e, f = K.alp_choose(v)
    ints, ep, ev = K.alp_encode(v, e, f)
    out = K.alp_decode(ints, e, f, ep, ev)
    assert np.array_equal(out, v, equal_nan=True)


def test_alp_negative_zero_byte_exact():
    """-0.0 == 0.0 passes the exactness check, but decoding integer 0 gives
    +0.0 — the sign bit must survive via the exception path so the
    roundtrip is BYTE-exact, not merely value-equal."""
    v = np.array([-0.0, 0.0, 1.25, -0.0], dtype=np.float64)
    e, f = K.alp_choose(v)
    ints, ep, ev = K.alp_encode(v, e, f)
    out = K.alp_decode(ints, e, f, ep, ev)
    assert out.tobytes() == v.tobytes()  # bit-exact, sign of zero included


_I64 = np.iinfo(np.int64)


@given(
    st.lists(
        st.one_of(
            st.integers(min_value=_I64.min, max_value=_I64.max),
            st.sampled_from([_I64.min, _I64.max]),
        ),
        min_size=1,
        max_size=1024,
    )
)
@settings(max_examples=60, deadline=None)
def test_delta_roundtrip(vals):
    a = np.array(vals, dtype=np.int64)
    assert (K.delta_decode(*K.delta_encode(a), len(a)) == a).all()


def test_delta_wraps_adjacent_int64_extremes():
    a = np.array([_I64.min, _I64.max, _I64.min, 0, -1, _I64.max], dtype=np.int64)
    assert (K.delta_decode(*K.delta_encode(a), len(a)) == a).all()


@given(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=3000),
    st.integers(min_value=0, max_value=2**32),
)
@settings(max_examples=25, deadline=None)
def test_delta_container_roundtrip_with_nulls_and_tail(tmp_path_factory, start, steps, seed):
    """Sorted keys (DELTA's shape) with nulls, over a tail vector."""
    keys = start + np.cumsum(np.array(steps, dtype=np.int64))
    nulls = np.random.default_rng(seed).random(len(keys)) < 0.1
    t = pa.table({"k": pa.array(keys, pa.int64(), mask=nulls)})
    path = str(tmp_path_factory.mktemp("delta") / "d.fls")
    write_table(t, path, row_group_size=2048)
    assert pa.Table.from_batches(list(read_file(path))).equals(t)


def _encodings(footer: dict, col: int = 0) -> dict[str, int]:
    out: dict[str, int] = {}
    for rg in footer["row_groups"]:
        for k, v in rg["columns"][col]["encodings"].items():
            out[k] = out.get(k, 0) + v
    return out


def test_sorted_keys_select_delta(tmp_path):
    keys = np.sort(pq.read_table(f"{SF_DIR}/lineitem.parquet")["l_orderkey"].to_numpy())
    footer = write_table(pa.table({"k": pa.array(keys)}), str(tmp_path / "k.fls"))
    assert set(_encodings(footer)) == {"delta"}


def test_stride_two_keys_have_delta_width_zero(tmp_path):
    keys = np.arange(1, 2 * 4096, 2, dtype=np.int64)
    assert K.delta_encode(keys[:1024])[2] == 0
    path = str(tmp_path / "s.fls")
    footer = write_table(pa.table({"k": pa.array(keys)}), path, row_group_size=4096)
    assert _encodings(footer) == {"delta": 4}
    # chunk = mode byte + 4 × (4-byte vector header + 17-byte DELTA header)
    assert footer["row_groups"][0]["columns"][0]["length"] == 1 + 4 * 21
    got = pa.Table.from_batches(list(read_file(path))).column("k").to_numpy()
    assert np.array_equal(got, keys)


@given(st.integers(min_value=0, max_value=2**32))
@settings(max_examples=20, deadline=None)
def test_alp_random_cents_choose_e2_with_no_exceptions(seed):
    cents = np.random.default_rng(seed).integers(-(10**11), 10**11, 1024)
    v = cents / 100.0
    e, f = K.alp_choose(v)
    assert (e, f) == (2, 0)
    ints, ep, ev = K.alp_encode(v, e, f)
    assert len(ep) == 0 and (ints == cents).all()
    assert K.alp_decode(ints, e, f, ep, ev).tobytes() == v.tobytes()


def test_alp_specials_stay_exceptions():
    v = np.random.default_rng(5).integers(-(10**11), 10**11, 1024) / 100.0
    special = {3: -0.0, 70: float("nan"), 500: float("inf"), 1000: float("-inf")}
    for i, x in special.items():
        v[i] = x
    e, f = K.alp_choose(v)
    ints, ep, ev = K.alp_encode(v, e, f)
    assert ep.tolist() == sorted(special)
    assert K.alp_decode(ints, e, f, ep, ev).tobytes() == v.tobytes()


def test_alp_choose_on_catalog_columns():
    o = pq.read_table(f"{SF_DIR}/orders.parquet", columns=["o_totalprice"])
    li = pq.read_table(f"{SF_DIR}/lineitem.parquet", columns=["l_quantity"])
    assert K.alp_choose(o["o_totalprice"].to_numpy()) == (2, 0)
    assert K.alp_choose(li["l_quantity"].to_numpy()) == (0, 0)


def test_rle_index_mapped_contract():
    # decode contract of rle_map_kernel.hpp: arr[i] == run_values[idxs[i]]
    a = np.repeat(np.array([7, -3, 7, 9], dtype=np.int64), [5, 1, 3, 7])
    runs, idxs = K.rle_encode(a)
    assert (runs == np.array([7, -3, 7, 9])).all()
    assert (K.rle_decode(runs, idxs) == a).all()


def test_dict_offsets_layout():
    keys = [b"", b"a", b"hello", b"\xf0\x9f\x8c\x8d"]
    ends, blob = K.dict_offsets_bytes(keys)
    assert K.strings_from_offsets(ends, blob) == keys


# ----------------------------------------------------------------- container
def _all_types_table(n=3000, seed=3):
    rng = np.random.default_rng(seed)
    return pa.table(
        {
            "i8": pa.array(
                [None if i % 7 == 0 else (i % 100) - 50 for i in range(n)], pa.int8()
            ),
            "i64": pa.array(rng.integers(-(2**40), 2**40, n), pa.int64()),
            "runs": pa.array(np.repeat(np.arange(n // 1000 + 1), 1000)[:n], pa.int64()),
            "const": pa.array([42] * n, pa.int32()),
            "f": pa.array(
                [None if i % 11 == 0 else round(float(i) * 0.01, 2) for i in range(n)],
                pa.float64(),
            ),
            "f32": pa.array(rng.normal(0, 1, n).astype(np.float32), pa.float32()),
            "s": pa.array(
                [None if i % 13 == 0 else f"cat{i % 5}" for i in range(n)], pa.string()
            ),
            "b": pa.array([bool(i % 2) for i in range(n)], pa.bool_()),
            "d": pa.array([18000 + i % 50 for i in range(n)], pa.date32()),
            "ts": pa.array(np.arange(n) * 1_000_000, pa.timestamp("us")),
        }
    )


def test_container_roundtrip_all_types(tmp_path):
    t = _all_types_table()
    path = str(tmp_path / "all.fls")
    footer = write_table(t, path, row_group_size=1024)
    assert footer["n_rows"] == t.num_rows
    t2 = pa.Table.from_batches(list(read_file(path)))
    for name in t.schema.names:
        assert t.column(name).combine_chunks().equals(
            t2.column(name).combine_chunks()
        ), name


def test_encoder_selection(tmp_path):
    t = _all_types_table()
    footer = write_table(t, str(tmp_path / "e.fls"), row_group_size=1024)
    encs = {}
    for rg in footer["row_groups"]:
        for cname, meta in zip(t.schema.names, rg["columns"]):
            for k, v in meta["encodings"].items():
                encs.setdefault(cname, set()).add(k)
    assert encs["const"] == {"constant"}
    assert "dict" in encs["s"]  # 5 distinct categories → dictionary
    assert "alp" in encs["f"]  # 2-decimal values → ALP exact
    assert "uncompressed" in encs["f32"]  # irrational normals → ALP rejected
    assert "ffor" in encs["i64"]


@given(st.binary(min_size=0, max_size=2000))
@settings(max_examples=50, deadline=None)
def test_fsst_roundtrip_any_bytes(blob):
    table = K.fsst_build_table(blob)
    assert len(table) <= K.FSST_MAX_SYMBOLS
    assert all(1 <= len(s) <= K.FSST_MAX_SYMLEN for s in table)
    assert K.fsst_decode(K.fsst_encode(blob, table), table) == blob


def test_fsst_escape_byte_payload_roundtrip():
    # 0xff both as literal content and adjacent to symbol hits
    blob = b"\xffabcabc\xff\xffabc"
    table = K.fsst_build_table(b"abcabcabcabc")
    assert K.fsst_decode(K.fsst_encode(blob, table), table) == blob


def test_fsst_compresses_repetitive_text():
    blob = (b"the quick brown fox jumps over the lazy dog " * 200)[:8000]
    table = K.fsst_build_table(blob)
    code = K.fsst_encode(blob, table)
    assert len(code) < len(blob) // 2
    assert K.fsst_decode(code, table) == blob


def test_fsst_concatenated_decode_splits_by_offsets():
    strings = [b"hello world", b"", b"world hello hello", b"\xff raw"]
    table = K.fsst_build_table(b" ".join(strings) * 20)
    code = b"".join(K.fsst_encode(s, table) for s in strings)
    blob = K.fsst_decode(code, table)
    ends = np.cumsum([len(s) for s in strings])
    assert blob == b"".join(strings)
    prev = 0
    for s, e in zip(strings, ends):
        assert blob[prev:e] == s
        prev = e


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=1024))
@settings(max_examples=50, deadline=None)
def test_freq_roundtrip(vals):
    a = np.array(vals, dtype=np.int64)
    top, pos, exc = K.freq_encode(a)
    assert (K.freq_decode(top, pos, exc, len(a)) == a).all()


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=1024))
@settings(max_examples=50, deadline=None)
def test_slpatch_roundtrip(vals):
    a = np.array(vals, dtype=np.int64)
    base, w, payload, pos, exc = K.slpatch_encode(a)
    assert (K.slpatch_decode(base, w, payload, len(a), pos, exc) == a).all()


def test_slpatch_full_int64_range():
    a = np.array(
        [np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -1, 7, 7, 7],
        dtype=np.int64,
    )
    base, w, payload, pos, exc = K.slpatch_encode(a)
    assert (K.slpatch_decode(base, w, payload, len(a), pos, exc) == a).all()


def test_slpatch_beats_ffor_on_outliers():
    # 1020 tiny deltas + 4 huge outliers: FFOR pays 64 bits/value,
    # SLPatch packs 4 bits + 4 exceptions
    a = np.arange(1024, dtype=np.int64) % 16
    a[[10, 200, 500, 900]] = 2**60
    base, w, payload, pos, exc = K.slpatch_encode(a)
    assert w <= 8 and len(pos) == 4
    slp_bytes = len(payload) + 10 * len(pos)
    _, fw, fp = K.ffor_encode(a)
    assert slp_bytes < len(fp) // 4
    assert (K.slpatch_decode(base, w, payload, len(a), pos, exc) == a).all()


def test_freq_chosen_for_scattered_repeats(tmp_path):
    # one dominant value with SCATTERED exceptions (no runs → RLE loses,
    # 60-bit outliers → FFOR/SLPatch pay per-value width)
    rng = np.random.default_rng(7)
    v = np.full(4096, 42, dtype=np.int64)
    idx = rng.choice(4096, size=60, replace=False)
    v[idx] = rng.integers(2**59, 2**60, size=60)
    footer = write_table(pa.table({"x": pa.array(v)}), str(tmp_path / "f.fls"), row_group_size=1024)
    encs = set()
    for rg in footer["row_groups"]:
        encs |= set(rg["columns"][0]["encodings"])
    assert "frequency" in encs


def test_slpatch_chosen_for_outlier_deltas(tmp_path):
    rng = np.random.default_rng(11)
    v = rng.integers(0, 256, size=4096).astype(np.int64)  # 8-bit bulk
    v[rng.choice(4096, size=40, replace=False)] = 2**55  # patched tail
    footer = write_table(pa.table({"x": pa.array(v)}), str(tmp_path / "s.fls"), row_group_size=1024)
    encs = set()
    for rg in footer["row_groups"]:
        encs |= set(rg["columns"][0]["encodings"])
    assert "slpatch" in encs


def test_fsst_chosen_for_high_cardinality_text(tmp_path):
    # unique-per-row strings over a shared vocabulary: dictionary is
    # rejected (cardinality == n), FSST pays via the shared symbol table
    words = ["lorem", "ipsum", "dolor", "sit", "amet", "consectetur"]
    rng = np.random.default_rng(3)
    vals = [
        " ".join(words[j] for j in rng.integers(0, len(words), size=12))
        + f" #{i}"
        for i in range(8192)
    ]
    t = pa.table({"s": pa.array(vals, pa.string())})
    path = str(tmp_path / "fsst.fls")
    footer = write_table(t, path, row_group_size=4096)
    encs = set()
    for rg in footer["row_groups"]:
        encs |= set(rg["columns"][0]["encodings"])
    assert "fsst" in encs
    t2 = pa.Table.from_batches(list(read_file(path)))
    assert t.column("s").combine_chunks().equals(t2.column("s").combine_chunks())
    # and the format actually shrank the payload vs raw utf-8
    import os

    raw = sum(len(s.encode()) for s in vals)
    assert os.path.getsize(path) < raw


def test_fsst_nulls_roundtrip(tmp_path):
    vals = [None if i % 7 == 0 else f"payload text number {i} with shared shingles" for i in range(5000)]
    t = pa.table({"s": pa.array(vals, pa.string())})
    path = str(tmp_path / "fsstn.fls")
    write_table(t, path, row_group_size=1024)
    t2 = pa.Table.from_batches(list(read_file(path)))
    assert t.column("s").combine_chunks().equals(t2.column("s").combine_chunks())


def test_rle_chosen_for_long_runs(tmp_path):
    t = pa.table({"r": pa.array(np.repeat(np.int64(5), 4096))})
    # constant wins all-equal vectors; make two runs per vector instead
    t = pa.table(
        {"r": pa.array(np.tile(np.repeat(np.array([3, 9], dtype=np.int64), 512), 4))}
    )
    footer = write_table(t, str(tmp_path / "r.fls"), row_group_size=1024)
    encs = set()
    for rg in footer["row_groups"]:
        encs |= set(rg["columns"][0]["encodings"])
    assert "rle" in encs


def _record_decodes(monkeypatch) -> list[str]:
    """Patch the one chunk decoder to log the logical type of every chunk
    it decodes; returns the log."""
    from duckdb_fastlanes_spark.io import fls_native

    decoded: list[str] = []
    real = fls_native._decode_chunk
    monkeypatch.setattr(
        fls_native,
        "_decode_chunk",
        lambda buf, ltype, n_rows: decoded.append(ltype) or real(buf, ltype, n_rows),
    )
    return decoded


def test_rowgroup_pruning_skips(tmp_path, monkeypatch):
    n = 8192
    t = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)), "v": pa.array(np.ones(n))})
    path = str(tmp_path / "p.fls")
    write_table(t, path, row_group_size=1024)
    footer = read_footer(path)
    assert len(footer["row_groups"]) == 8
    decoded = _record_decodes(monkeypatch)
    batches = list(read_file(path, predicate=[("k", ">=", 6000)]))
    # rgs 0-4 (max key 5119) are proven empty by the zone map and never
    # decoded: 3 surviving groups × 2 columns
    assert len(batches) == 3
    assert len(decoded) == 3 * 2
    # exact: 144 rows of rg5 (6000..6143) plus rgs 6 and 7
    got = pa.Table.from_batches(batches)
    assert got.num_rows == 2192
    k = np.asarray(got.column("k"))
    assert k.min() == 6000 and k.max() == 8191


def test_projection_decodes_only_requested(tmp_path):
    t = _all_types_table(1000)
    path = str(tmp_path / "proj.fls")
    write_table(t, path)
    got = pa.Table.from_batches(list(read_file(path, columns=["i64", "s"])))
    assert got.schema.names == ["i64", "s"]
    assert got.column("i64").to_pylist() == t.column("i64").to_pylist()


def test_empty_table(tmp_path):
    t = _all_types_table(0)
    path = str(tmp_path / "empty.fls")
    write_table(t, path)
    batches = list(read_file(path))
    assert sum(b.num_rows for b in batches) == 0


def test_version_one_footer_raises(tmp_path, monkeypatch):
    """Version-1 files decoded ALP by multiplying with 10^-e; the reader
    must refuse them rather than misread them silently."""
    from duckdb_fastlanes_spark.io import fls_native

    path = str(tmp_path / "v1.fls")
    with monkeypatch.context() as m:
        m.setattr(fls_native, "FORMAT_VERSION", 1)
        write_table(pa.table({"x": pa.array([1.25, 2.5])}), path)
    with pytest.raises(ValueError, match="version 1"):
        read_footer(path)
    with pytest.raises(ValueError, match="version 1"):
        list(read_file(path))


def test_version_two_footer_raises(tmp_path, monkeypatch):
    """Version-2 float zone maps skipped ±inf and NaN, so they could prune
    rows that pass; the reader refuses those files too."""
    from duckdb_fastlanes_spark.io import fls_native

    path = str(tmp_path / "v2.fls")
    with monkeypatch.context() as m:
        m.setattr(fls_native, "FORMAT_VERSION", 2)
        write_table(pa.table({"x": pa.array([1.25, float("inf")])}), path)
    with pytest.raises(ValueError, match="version 2"):
        list(read_file(path))


def test_float_zone_maps_keep_nan_and_inf_rows(tmp_path):
    """A float chunk's zone map covers ±inf, and a chunk holding NaN (which
    SQL sorts above every number) has none, so neither row is pruned."""
    nan, inf = float("nan"), float("inf")
    v = [1.0, 2.0, inf, nan] + [0.5] * 1020 + [1.0, 2.0, inf] + [0.5] * 1021
    path = str(tmp_path / "nf.fls")
    footer = write_table(pa.table({"v": pa.array(v)}), path, row_group_size=1024)
    zone = [(c["columns"][0].get("min"), c["columns"][0].get("max")) for c in footer["row_groups"]]
    assert zone == [(None, None), (0.5, inf)]
    for pred in (("v", ">", 5.0), ("v", ">=", 3.0)):
        got = pa.Table.from_batches(list(read_file(path, predicate=[pred])))
        assert [repr(x) for x in got.column("v").to_pylist()] == ["inf", "nan", "inf"]


# ---------------------------------------------------------------- spark path
@pytest.mark.parametrize("parts", [1, 5])
def test_spark_roundtrip_documents(spark, tmp_path, parts):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").repartition(parts)
    out = str(tmp_path / f"docs{parts}")
    write_fls_native(d, out, row_group_size=2048)
    rt = read_fls_native(spark, out)
    assert rt.exceptAll(d).count() == 0
    assert d.exceptAll(rt).count() == 0


def test_spark_read_plans_no_exchange(spark, tmp_path):
    """The file list's LocalTableScan already spreads the paths over the
    decode tasks; a shuffle below the MapInArrow would only add a stage."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = str(tmp_path / "li")
    write_fls_native(li.repartition(6), out)
    rt = read_fls_native(spark, out)
    plan = rt._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Exchange" not in plan
    assert rt.rdd.getNumPartitions() == min(6, spark.sparkContext.defaultParallelism)
    assert rt.exceptAll(li).count() == 0 and li.exceptAll(rt).count() == 0


def test_spark_partition_invariance(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    outs = []
    for parts in (2, 7):
        out = str(tmp_path / f"li{parts}")
        write_fls_native(li.repartition(parts), out)
        rows = read_fls_native(spark, out).collect()
        # (l_orderkey, l_linenumber) is not unique in the synthetic corpus —
        # sort by the full tuple for a deterministic comparison
        outs.append(sorted(rows, key=lambda r: tuple(str(v) for v in r)))
    assert outs[0] == outs[1]


def test_spark_empty_partitions(spark, tmp_path):
    sm = spark.read.parquet(f"{SF_DIR}/nation.parquet").repartition(50)
    out = str(tmp_path / "nation")
    write_fls_native(sm, out)
    rt = read_fls_native(spark, out)
    assert rt.count() == sm.count()
    assert rt.exceptAll(sm).count() == 0


def test_spark_projection_and_predicate(spark, tmp_path):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = str(tmp_path / "li_sorted")
    write_fls_native(
        li.repartitionByRange(2, "l_orderkey").sortWithinPartitions("l_orderkey"),
        out,
        row_group_size=1024,
    )
    rt = read_fls_native(
        spark, out, columns=["l_orderkey", "l_extendedprice"],
        predicate=[("l_orderkey", "<", 500)],
    )
    assert rt.columns == ["l_orderkey", "l_extendedprice"]
    got = rt.filter(F.col("l_orderkey") < 500).agg(
        F.sum("l_extendedprice").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    exp = li.filter(F.col("l_orderkey") < 500).agg(
        F.sum("l_extendedprice").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert got["n"] == exp["n"]
    assert got["s"] == pytest.approx(exp["s"], rel=1e-12)


def test_promote_ltype_lattice():
    from duckdb_fastlanes_spark.io.fls_native import promote_ltype

    assert promote_ltype("int8", "int64") == "int64"
    assert promote_ltype("bool", "int16") == "int16"
    assert promote_ltype("int32", "float32") == "float64"
    assert promote_ltype("float32", "float64") == "float64"
    assert promote_ltype("int64", "str") == "str"
    assert promote_ltype("date32", "timestamp_us") == "timestamp_us"
    with pytest.raises(TypeError):
        promote_ltype("timestamp_us", "int64")


def _two_generation_orders(spark, tmp_path):
    """orders as two .fls generations: even keys narrowed to int without
    o_orderpriority, odd keys with it; returns (dir, orders frame)."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = str(tmp_path / "evo")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").cast("int").alias("o_orderkey"), "o_totalprice"
    )
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    write_fls_native(gen1, out, mode="overwrite")
    write_fls_native(gen2, out, mode="append")
    return out, o


def test_spark_union_by_name_promotion(spark, tmp_path):
    from pyspark.sql import functions as F

    out, o = _two_generation_orders(spark, tmp_path)
    ev = read_fls_native(spark, out, union_by_name=True)
    # promoted: int32 ⊔ int64 → bigint; missing column nullable string
    assert dict(ev.dtypes)["o_orderkey"] == "bigint"
    assert dict(ev.dtypes)["o_orderpriority"] == "string"
    assert ev.count() == o.count()
    n_missing = ev.filter(F.col("o_orderpriority").isNull()).count()
    assert n_missing == o.filter(F.col("o_orderkey") % 2 == 0).count()
    # value fidelity through the widening
    got = ev.agg(F.sum("o_orderkey")).collect()[0][0]
    exp = o.agg(F.sum("o_orderkey")).collect()[0][0]
    assert got == exp


def test_union_predicate_on_absent_column_matches_spark_filter(spark, tmp_path):
    """A file that lacks the predicate column reads it as NULL, and NULL
    fails every comparison: the reader keeps exactly Spark's own filter of
    the unioned frame, widened key included."""
    from pyspark.sql import functions as F

    out, _ = _two_generation_orders(spark, tmp_path)
    for op, val, col in (
        ("=", "1-URGENT", F.col("o_orderpriority") == "1-URGENT"),
        ("!=", "1-URGENT", F.col("o_orderpriority") != "1-URGENT"),
    ):
        got = read_fls_native(
            spark, out, predicate=[("o_orderpriority", op, val), ("o_orderkey", ">", 2)],
            union_by_name=True,
        )
        exp = read_fls_native(spark, out, union_by_name=True).filter(
            col & (F.col("o_orderkey") > 2)
        )
        assert got.count() == exp.count() > 0
        assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def _strict_mismatch_dir(tmp_path):
    """a.fls holds (k int64, s str); b.fls holds only k, as int32."""
    out = tmp_path / "strict"
    out.mkdir()
    write_table(pa.table({"k": pa.array([1, 2], pa.int64()), "s": ["x", "y"]}), str(out / "a.fls"))
    write_table(pa.table({"k": pa.array([3], pa.int32())}), str(out / "b.fls"))
    return str(out)


def test_strict_read_names_file_and_column(spark, tmp_path):
    """Without union_by_name the first file's schema is authoritative; a
    file that lacks a column or stores it at another type fails with a
    ValueError that names the file, the column and the types."""
    out = _strict_mismatch_dir(tmp_path)
    with pytest.raises(Exception, match=r"ValueError: .*b\.fls: column 'k' is int32 here but int64"):
        read_fls_native(spark, out).collect()
    with pytest.raises(Exception, match=r"ValueError: .*b\.fls: no column 's'"):
        read_fls_native(spark, out, columns=["s"]).collect()
    with pytest.raises(ValueError, match=r"b\.fls: no column 's'"):
        list(read_file(f"{out}/b.fls", ["s"]))
    assert read_fls_native(spark, out, union_by_name=True).count() == 3


def test_predicate_column_in_no_schema_raises_on_driver(spark, tmp_path):
    out = _strict_mismatch_dir(tmp_path)
    for union in (False, True):
        with pytest.raises(ValueError, match=r"predicate column\(s\) \['tpyo'\]"):
            read_fls_native(spark, out, predicate=[("tpyo", "=", 1)], union_by_name=union)


# ---------------------------------------------------------------- A6 adaptive


def _adaptive_fixture(spark, tmp_path, n_files=1):
    """One .fls file of orders with two predicate columns of very different
    selectivity; returns (path, pandas ground truth)."""
    from pyspark.sql import functions as F

    o = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_orderkey") % 4).alias("bucket"),
        )
        .coalesce(n_files)
    )
    out = str(tmp_path / "adaptive")
    write_fls_native(o, out, row_group_size=1024)
    return out, o.toPandas()


def test_filter_matches_post_filter(spark, tmp_path):
    import os

    out, pdf = _adaptive_fixture(spark, tmp_path)
    f = [os.path.join(out, fn) for fn in os.listdir(out) if fn.endswith(".fls")][0]
    preds = [("o_totalprice", ">=", 400000.0), ("bucket", "=", 1)]
    got = pa.Table.from_batches(
        list(read_file(f, predicate=preds)),
        ).to_pandas()
    exp = pdf[(pdf.o_totalprice >= 400000.0) & (pdf.bucket == 1)]
    assert sorted(got.o_orderkey) == sorted(exp.o_orderkey)
    assert len(got) == len(exp)


def test_filter_order_converges_and_is_permutation_invariant(spark, tmp_path):
    """The executor must settle on the MOST SELECTIVE predicate first
    regardless of the order the caller wrote, and the surviving rows must
    be identical under any input permutation."""
    import os

    out, pdf = _adaptive_fixture(spark, tmp_path)
    f = [os.path.join(out, fn) for fn in os.listdir(out) if fn.endswith(".fls")][0]
    # totalprice >= 400000 keeps ~25%; bucket = 1 keeps ~25%... pick a
    # sharper split: totalprice >= p90 keeps ~10% vs bucket keeps 25%
    p90 = float(pdf.o_totalprice.quantile(0.9))
    sel = ("o_totalprice", ">=", p90)  # ~10% pass — the selective one
    loose = ("bucket", "<=", 2)  # ~75% pass — the loose one
    rows = {}
    for label, preds in (("sel_first", [sel, loose]), ("loose_first", [loose, sel])):
        stats: dict = {}
        got = pa.Table.from_batches(
            list(read_file(f, predicate=preds, stats=stats))
        ).to_pandas()
        rows[label] = sorted(got.o_orderkey)
        # final adaptive order puts the selective predicate first even when
        # the caller listed it last
        assert stats["order"][0] == sel, (label, stats["order"])
    assert rows["sel_first"] == rows["loose_first"]
    exp = pdf[(pdf.o_totalprice >= p90) & (pdf.bucket <= 2)]
    assert rows["sel_first"] == sorted(exp.o_orderkey)


def test_filter_null_semantics(tmp_path):
    """NULLs fail every predicate (SQL semantics), never match."""
    tbl = pa.table(
        {
            "k": pa.array([1, 2, None, 4, None, 6], type=pa.int64()),
            "v": pa.array([10.0, None, 30.0, 40.0, 50.0, None]),
        }
    )
    f = str(tmp_path / "nulls.fls")
    write_table(tbl, f)
    got = pa.Table.from_batches(
        list(read_file(f, predicate=[("k", ">", 1), ("v", ">", 0.0)]))
    )
    assert got.column("k").to_pylist() == [4]


_SPECIALS = [float("nan"), float("inf"), float("-inf"), -0.0]


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=4000),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ops=st.lists(
        st.sampled_from(["=", "!=", ">", ">=", "<", "<="]),
        min_size=1,
        max_size=4,
    ),
    special=st.sampled_from([0.0, 0.02, 0.3]),
)
def test_filter_matches_duckdb_random(tmp_path_factory, n, seed, ops, special):
    """For ANY data and ANY predicate set — NULL, NaN and ±inf included —
    the reader must keep exactly the rows DuckDB keeps: NaN equals itself
    and sorts above every number, NULL fails. All-pass, all-fail, sizes
    that do not fill a 1024 vector and zone maps over several row groups
    are covered."""
    import duckdb

    rng = np.random.default_rng(seed)
    k = pa.array(rng.integers(0, 20, size=n), pa.int64(), mask=rng.random(n) < special / 2)
    v = np.round(rng.normal(0, 10, size=n), 3)
    pick = rng.random(n) < special
    v[pick] = rng.choice(_SPECIALS, size=int(pick.sum()))
    tbl = pa.table({"k": k, "v": pa.array(v, mask=rng.random(n) < special / 2)})
    f = str(tmp_path_factory.mktemp("afp") / "t.fls")
    write_table(tbl, f, row_group_size=1024)
    preds = []
    for i, op in enumerate(ops):
        if i % 2 == 0:
            preds.append(("k", op, int(rng.integers(0, 20))))
        elif rng.random() < 0.3:
            preds.append(("v", op, float(rng.choice(_SPECIALS))))
        else:
            preds.append(("v", op, float(np.round(rng.normal(0, 10), 3))))
    got = pa.Table.from_batches(list(read_file(f, predicate=preds)), schema=tbl.schema)
    con = duckdb.connect()
    con.register("src", tbl)
    # materialize first: DuckDB's Arrow scan pushes filters down with IEEE
    # compares, its own tables use SQL NaN ordering
    con.execute("CREATE TABLE t AS SELECT * FROM src")
    where = " AND ".join(f"{c} {op} ?" for c, op, _ in preds)
    exp = con.execute(f"SELECT k, v FROM t WHERE {where}", [p[2] for p in preds]).fetchall()
    rows = list(zip(got.column("k").to_pylist(), got.column("v").to_pylist()))
    assert sorted(map(repr, rows)) == sorted(map(repr, exp)), preds


@pytest.mark.parametrize(
    "arrow_type, start, step",
    [
        (pa.date32(), datetime.date(2020, 1, 1), datetime.timedelta(days=1)),
        (pa.timestamp("us"), datetime.datetime(2020, 1, 1), datetime.timedelta(minutes=7)),
    ],
)
def test_temporal_predicates_prune_and_filter(tmp_path, monkeypatch, arrow_type, start, step):
    """Date and timestamp predicate values compare against the column's
    Arrow type and against the zone map's days or µs since the epoch."""
    import duckdb

    tbl = pa.table(
        {
            "t": pa.array([start + i * step for i in range(3000)], arrow_type),
            "i": pa.array(np.arange(3000)),
        }
    )
    path = str(tmp_path / "t.fls")
    write_table(tbl, path, row_group_size=1024)
    value = start + 1500 * step  # inside the second of three row groups
    con = duckdb.connect()
    con.register("src", tbl)
    for op in ("=", "!=", ">", ">=", "<", "<="):
        got = pa.Table.from_batches(
            list(read_file(path, predicate=[("t", op, value)])), schema=tbl.schema
        )
        exp = con.execute(f"SELECT i FROM src WHERE t {op} ? ORDER BY i", [value]).fetchall()
        assert sorted(got.column("i").to_pylist()) == [r[0] for r in exp], op
    decoded = _record_decodes(monkeypatch)
    got = list(read_file(path, ["i"], predicate=[("t", "=", value)]))
    # the zone map leaves one row group: its t and i chunks
    assert [b.column(0).to_pylist() for b in got] == [[1500]]
    assert len(decoded) == 2


def test_position_cap_raises_value_error_not_assert():
    """freq/slpatch positions serialize as uint16; the >0xFFFF guard is a
    data-integrity gate and must survive `python -O` (ValueError, never a
    strippable assert — ADVICE r6)."""
    import pytest

    big = np.zeros(0xFFFF + 1, dtype=np.int64)
    with pytest.raises(ValueError, match="uint16 position space"):
        K.freq_encode(big)
    with pytest.raises(ValueError, match="uint16 position space"):
        K.slpatch_encode(big)


def test_filter_records_skipped_predicates(spark, tmp_path):
    """A direct read skips predicates on columns absent from the file
    schema, but the skip must be VISIBLE:
    recorded in stats, and warned about when NO predicate column matched
    (the typo case) — ADVICE r6."""
    import os
    import warnings

    out, pdf = _adaptive_fixture(spark, tmp_path)
    f = [os.path.join(out, fn) for fn in os.listdir(out) if fn.endswith(".fls")][0]
    # mixed: one real column, one absent → filter applies, skip recorded
    stats: dict = {}
    got = pa.Table.from_batches(
        list(
            read_file(
                f, predicate=[("bucket", "=", 1), ("no_such_col", ">", 0)], stats=stats
            )
        )
    ).to_pandas()
    assert len(got) == int((pdf.bucket == 1).sum())
    assert stats["skipped_predicates"] == [("no_such_col", ">", 0)]
    # entirely unmatched → unfiltered rows + a loud warning
    stats2: dict = {}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        n = sum(
            b.num_rows
            for b in read_file(
                f, predicate=[("tpyo", "=", 1)], stats=stats2
            )
        )
    assert n == len(pdf)
    assert stats2["skipped_predicates"] == [("tpyo", "=", 1)]
    assert any("no predicate column" in str(x.message) for x in w)
