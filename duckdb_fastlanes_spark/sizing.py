"""Input sizing: the one source of the numbers behind size-gated plan decisions.

Every plan-shape decision that depends on input size — the small-input gate
(AQE off, narrow shuffles), the join-strategy pins above it, data-scaled
exchange widths and the column ranges that gate key packing — reads the
same ``CatalogStats``. Each catalog file's parquet footer is read once per
directory state, the way the reference reads a file's footer once and feeds
both zone-map pruning and cardinality estimates from it. The decisions are
pure functions of these stats and ``sc.defaultParallelism``.
"""

from __future__ import annotations

import logging
import os
import stat
from dataclasses import dataclass

from pyspark.sql import DataFrame

#: inputs below this total DECODED size take the small-input fast path.
#: Measured at the SCALE cells (24g driver, local[32]): at ~800 MB decoded
#: the default path already wins decisively (count_distinct 7.3→1.5 s,
#: triangle count 20→15 s, ngram dedup 18→15 s vs the fast path), so the
#: gate sits well below it; at 22 MB (sf0.1) the fast path still wins on
#: scheduling overhead. Between those the two paths are within noise.
SMALL_INPUT_BYTES = 512 * 1024**2

#: cap on every data-scaled exchange width
MAX_WIDTH = 4096


@dataclass(frozen=True)
class TableStats:
    #: sum of the row groups' ``total_byte_size``; 0 when the footer is unreadable
    decoded_bytes: int
    disk_bytes: int
    #: column → (min, max) across all row groups; a column is absent when
    #: any row group lacks min/max statistics for it
    ranges: dict[str, tuple]


@dataclass(frozen=True)
class CatalogStats:
    #: THE input gauge: decoded parquet bytes from the footers, or the
    #: on-disk total when any footer is unreadable
    decoded_bytes: int
    #: on-disk bytes of every regular file in the directory
    disk_bytes: int
    tables: dict[str, TableStats]

    @property
    def large(self) -> bool:
        """Above the small-input gate: the session keeps AQE and the wide
        defaults (``session.tune_for_input``), and corpus-sized joins get
        pinned (``pin``). Both read this one property, so unreadable footers
        flip the AQE gate and every pin together, never one without the
        other."""
        return self.decoded_bytes >= SMALL_INPUT_BYTES

    def table_bytes(self, table: str) -> int:
        """Decoded bytes of one table; 0 when missing or unreadable."""
        t = self.tables.get(table)
        return t.decoded_bytes if t else 0

    def column_range(self, table: str, column: str) -> tuple | None:
        """(min, max) of ``column`` from the footer statistics — no Spark
        job. None when the table is missing or any row group lacks stats (a
        chunk written without min/max could hide out-of-range keys), so
        callers degrade to their stat-free path."""
        t = self.tables.get(table)
        rng = t.ranges.get(column) if t else None
        if rng is None:
            logging.getLogger(__name__).debug(
                "footer stats unavailable for %s.%s — range-gated fast paths "
                "fall back to the unpacked shape",
                table,
                column,
            )
        return rng


def fingerprint(sf_dir: str) -> tuple:
    """stat()-only fingerprint of a directory's regular files (name, size,
    mtime, inode): a rewritten file changes it, an unchanged directory
    answers without opening anything."""
    try:
        entries = []
        for f in sorted(os.listdir(sf_dir)):
            p = os.path.join(sf_dir, f)
            if os.path.isfile(p):
                st = os.stat(p)
                entries.append((f, st.st_size, st.st_mtime_ns, st.st_ino))
        return tuple(entries)
    except OSError:
        return ()


def _column_ranges(md) -> dict[str, tuple]:
    ranges: dict[str, tuple] = {}
    for j in range(md.num_columns):
        lo = hi = None
        try:
            for i in range(md.num_row_groups):
                s = md.row_group(i).column(j).statistics
                if s is None or not s.has_min_max:
                    raise ValueError("missing stats")
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
        except Exception:
            # any stats-less or unconvertible row group disables the range
            continue
        if lo is not None:
            ranges[md.schema.column(j).path] = (lo, hi)
    return ranges


def _read(sf_dir: str) -> CatalogStats:
    import pyarrow.parquet as pq

    decoded = disk = 0
    readable = True
    tables: dict[str, TableStats] = {}
    try:
        names = sorted(os.listdir(sf_dir))
    except OSError:
        names = []
    for f in names:
        p = os.path.join(sf_dir, f)
        try:
            st = os.stat(p)
        except OSError:
            continue
        size = st.st_size if stat.S_ISREG(st.st_mode) else 0
        disk += size
        if not f.endswith(".parquet"):
            continue
        try:
            md = pq.read_metadata(p)
        except Exception:
            # a directory, a truncated or a non-parquet file
            readable = False
            tables[f[: -len(".parquet")]] = TableStats(0, size, {})
            continue
        t_bytes = sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
        decoded += t_bytes
        tables[f[: -len(".parquet")]] = TableStats(t_bytes, size, _column_ranges(md))
    return CatalogStats((decoded if readable else 0) or disk, disk, tables)


#: rstripped dir → (fingerprint, stats). Consulted on every query build, so
#: a hit costs only the stat() pass; the footers are read again only when
#: the directory's contents changed.
_MEMO: dict[str, tuple[tuple, CatalogStats]] = {}


def catalog_stats(sf_dir: str) -> CatalogStats:
    """Footer statistics of every ``*.parquet`` in ``sf_dir``, memoized on
    the directory's stat fingerprint (``d`` and ``d/`` share one entry)."""
    key = sf_dir.rstrip("/")
    fp = fingerprint(key)
    hit = _MEMO.get(key)
    if hit is None or hit[0] != fp:
        hit = _MEMO[key] = (fp, _read(key))
    return hit[1]


def pin(df: DataFrame, sf_dir: str, hint: str) -> DataFrame:
    """``df.hint(hint)`` above the small-input gate, ``df`` below it.

    For corpus- or fact-sized join sides. Above the gate the session runs
    with AQE on, and size estimates go wrong in both directions: AQE's
    compressed-shuffle estimate flips corpus-sized self-joins to broadcasts
    (measured at the 100× cell: the ngram family 6 s → 15-25 s, 3× worse at
    1000×), and the column-pruned estimate of a fact table slips under the
    broadcast threshold while its hash relation is 10-20× larger (tpch_q9 at
    the 1000× cell: 11.3 s broadcast vs 2.8 s shuffled hash). Below the gate
    AQE is off, the static planner sizes these joins from file bytes, and
    its broadcast IS the fast plan, so the hint would only add exchanges."""
    return df.hint(hint) if catalog_stats(sf_dir).large else df


def width(sf_dir: str, table: str, mb: int, floor: int) -> int:
    """Exchange width scaled to one table's decoded bytes: one partition per
    ``mb`` MiB, at least ``floor``, at most ``MAX_WIDTH``. Sizing from the
    table that drives the exchange, not the whole catalog, keeps a catalog
    dominated by other tables from over-partitioning the query into tiny
    tasks; a missing or unreadable table falls back to the whole-catalog
    gauge."""
    stats = catalog_stats(sf_dir)
    b = stats.table_bytes(table) or stats.decoded_bytes
    return max(floor, min(MAX_WIDTH, b // (mb * 1024**2)))
