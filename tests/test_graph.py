"""graph: the Arrow-side pieces of the graph operators."""

from __future__ import annotations

import pyarrow as pa

from duckdb_fastlanes_spark.operators.graph import _lp_candidate_agg


def _candidate_batches():
    return [
        pa.RecordBatch.from_pydict(
            {"pk": [7, 7, 9], "w_u": [1, 2, 5], "aa_term": [10, 20, 50]}
        ),
        pa.RecordBatch.from_pydict({"pk": [9], "w_u": [4], "aa_term": [40]}),
    ]


def _rows(batches):
    t = pa.Table.from_batches(list(batches))
    return t.column_names, sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def test_lp_candidate_agg_sums_per_pair_key():
    names, rows = _rows(_lp_candidate_agg(iter(_candidate_batches())))
    assert names == ["pk", "cn_u", "aa_u"]
    assert rows == [(7, 3, 30), (9, 9, 90)]


def test_lp_candidate_agg_ignores_group_by_column_order(monkeypatch):
    """All three columns are int64: the output must be labelled by name, so a
    pyarrow release that puts the key after the sums cannot swap them."""
    aggregate = pa.TableGroupBy.aggregate

    def keys_last(self, aggs):
        out = aggregate(self, aggs)
        return out.select(out.column_names[1:] + out.column_names[:1])

    monkeypatch.setattr(pa.TableGroupBy, "aggregate", keys_last)
    names, rows = _rows(_lp_candidate_agg(iter(_candidate_batches())))
    assert names == ["pk", "cn_u", "aa_u"]
    assert rows == [(7, 3, 30), (9, 9, 90)]
