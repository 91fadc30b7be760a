"""Deduplication operators over ``documents`` — exact, n-gram Jaccard,
MinHash-LSH, SimHash, and embedding-cosine near-dup.

Scale design notes (this is the 100 TB story, not the sf0.01 story):
- exact dedup: one hash-shuffle on the content fingerprint; payload is
  (fp, doc_id) only — never the text.
- n-gram Jaccard / MinHash-LSH: candidate generation joins on *shingle/band
  keys*, so cost is Σ bucket² not n²; the verify step touches only candidate
  pairs. The LSH band count/width trades recall for bucket size; skewed buckets
  (boilerplate shingles) are handled by AQE skew-join splitting.
- SimHash: fingerprint is a pure projection (no shuffle); near-dup grouping is
  an exact groupBy on the fingerprint.
- embedding cosine: pairwise work is blocked by a coarse bucket (here the
  ``label`` column; at scale an IVF/LSH assignment — see similarity.py), never
  a full cross join.

All expressions are JVM-side built-ins (md5/regexp/arrays); hashes are
md5-based so the DuckDB oracle computes bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register
from duckdb_fastlanes_spark.sizing import catalog_stats

#: MinHash configuration: 8 hashes in 4 bands of 2 → candidates share ≥1 band
N_MINHASH = 8
BAND_WIDTH = 2
JACCARD_THRESHOLD = 0.5
#: stop-shingle document-frequency cap for the exact pairwise paths
#: (dedup_ngram_jaccard / dedup_containment). A shingle shared by df docs
#: creates a C(df,2) pair bucket in the shingle self-join; one boilerplate
#: trigram in 10^6 docs is a 10^12-pair bucket at 100 TB. Dropping shingles
#: with df > CAP before the join bounds every bucket at C(CAP,2) so total
#: pair work is ≤ CAP × Σdf — LINEAR in corpus size — and a df>CAP shingle
#: carries ~no near-dup signal anyway (it is corpus boilerplate by
#: definition; the information-bearing shingles decide the pair score).
#: Sizes (|A|,|B|) are computed post-cap on BOTH engines so the ratio stays
#: a true Jaccard/containment over the kept shingle sets. Max observed df
#: in the test corpora is 25 (sf0.1), so 32 changes nothing at test scale.
SHINGLE_DF_CAP = 32
# near-dup gate; the driver's embeddings are random vectors (within-label max
# cosine ≈ 0.47), so a production-style 0.95 matches nothing — 0.3 keeps the
# operator's output non-trivial (~1% of in-bucket pairs) for the oracle check
COSINE_THRESHOLD = 0.3


def _norm(text: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def _words(text: Column) -> Column:
    # [a-z0-9]+ run extraction is invariant to trimming and whitespace
    # collapsing, so tokenization needs only lower() — not the full _norm()
    # (which would add a second regex pass over every document).
    return F.regexp_extract_all(F.lower(text), F.lit(r"[a-z0-9]+"), F.lit(0))


def _shingle_rows(d: DataFrame, distinct: bool = True) -> DataFrame:
    """Word-3-gram shingles as (doc_id, shingle) rows (distinct by default;
    pass distinct=False when the consumer is duplicate-insensitive — a
    min-wise hash or collect_set — to skip the dedup exchange).

    Implementation note: building shingles with a higher-order ``transform``
    over ``element_at(words, i)`` re-evaluates the word-splitting regex for
    every array reference inside the lambda (no CSE in interpreted HOF eval) —
    O(words²) regex work, ~100 ms/doc. Instead zip the word array with its
    two shifted slices (each slice references the array column once, so the
    regex runs O(1) times per row) and explode the zipped 3-grams: pure
    row-local expressions — no shuffle, no window sort, and the plan under
    every LSH consumer stays exchange-free up to the per-doc aggregate."""
    # Built from two selectExpr fragments (one JVM parse each) instead of a
    # deep pyspark.sql.functions tree: plan CONSTRUCTION is driver-side Py4J
    # round-trips per Column call, which measurably dominates small-query
    # latency (~100 ms for this subtree built functionally).
    out = (
        d.selectExpr(
            "doc_id", "regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS w"
        )
        .where("size(w) >= 3")
        .selectExpr(
            "doc_id",
            """explode(zip_with(
                   slice(w, 1, size(w) - 2),
                   zip_with(slice(w, 2, size(w) - 2), slice(w, 3, size(w) - 2),
                            (x, y) -> concat(x, ' ', y)),
                   (a, bc) -> concat(a, ' ', bc)
               )) AS shingle""",
        )
    )
    return out.distinct() if distinct else out


def _shingle_sets(d: DataFrame) -> DataFrame:
    """(doc_id, shingles array<string>, n_sh) — set semantics per doc."""
    return (
        _shingle_rows(d)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shingles"))
        .select("doc_id", "shingles", F.size("shingles").alias("n_sh"))
    )


#: Spark-SQL twin of ``_shingle_rows(distinct=False)`` — CTE text over the
#: ``documents`` view, same expressions (see _shingle_rows for why the
#: zip-with-shifted-slices form, not a HOF transform over element_at).
#: Single-parse construction: the whole pair pipeline below is ONE
#: spark.sql call instead of ~25 Py4J relational calls (r7; measured
#: 0.12-0.14 s of pure driver-side construction per query at sf0.1).
_SHINGLE_CTE = """
    wtab AS (SELECT doc_id,
                    regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS w
             FROM documents),
    shingles AS (
        SELECT doc_id,
               explode(zip_with(
                   slice(w, 1, size(w) - 2),
                   zip_with(slice(w, 2, size(w) - 2), slice(w, 3, size(w) - 2),
                            (x, y) -> concat(x, ' ', y)),
                   (a, bc) -> concat(a, ' ', bc)
               )) AS shingle
        FROM wtab WHERE size(w) >= 3)
"""


def _pair_count_sql(length_ratio: float | None) -> str:
    """SQL text of the shared pair-count pipeline (shingle → df-capped
    groups with per-doc kept-set sizes → row-local ordered-pair explode →
    ONE count aggregate = exact |A∩B|) ending in CTE ``c`` with columns
    (doc_a, doc_b, na, nb, c). Same plan as the former DataFrame helpers
    ``_sized_shingle_groups``/``_pair_scores`` (their shape rationale and
    1000×-cell measurements live in the dedup_ngram_jaccard docstring);
    built as one SQL body for single-parse construction.

    Shape: embedding each doc's kept-set SIZE inside the per-shingle group
    makes the pair stream self-contained — no join at all downstream of
    the pair aggregation. Three shuffles, all bounded: (1) groupBy shingle
    with map-side collect_set dedup (the only pass over the raw shingle
    stream), (2) a doc-keyed window count over the exploded kept rows
    (≤ CAP × shingles, spillable external sort), (3) regroup by shingle.
    The df-cap bounds every group at CAP docs, so pair fan-out per shingle
    is ≤ C(CAP,2) and total pair work ≤ CAP × Σdf — linear in corpus
    size. With ``length_ratio`` t, pairs failing t·nb ≤ na ≤ nb/t drop
    INSIDE the explode lambda, before the shuffle (lossless for J ≥ t —
    Bayardo et al. WWW'07 length filter; pinned by
    tests/test_pair_dedup_semantics.py::test_length_filter_is_lossless)."""
    lf = (
        f"filter(%s, p -> p.na >= {length_ratio} * p.nb"
        f" AND p.nb >= {length_ratio} * p.na)"
        if length_ratio is not None
        else "%s"
    )
    inner = (
        "transform(slice(docs, i + 2, size(docs)), y -> "
        "struct(x.doc_id AS doc_a, y.doc_id AS doc_b, x.n_sh AS na, y.n_sh AS nb))"
    )
    return f"""
    WITH {_SHINGLE_CTE},
    g0 AS (SELECT shingle, docs FROM (
               SELECT shingle, array_sort(collect_set(doc_id)) AS docs
               FROM shingles GROUP BY shingle)
           WHERE size(docs) <= {SHINGLE_DF_CAP}),
    ks AS (SELECT shingle, doc_id,
                  count(1) OVER (PARTITION BY doc_id) AS n_sh
           FROM (SELECT shingle, explode(docs) AS doc_id FROM g0)),
    grp AS (SELECT shingle,
                   array_sort(collect_list(struct(doc_id, n_sh))) AS docs
            FROM ks GROUP BY shingle),
    pairs AS (SELECT pr.* FROM (
        SELECT explode(flatten(transform(docs, (x, i) -> {lf % inner}))) AS pr
        FROM grp)),
    c AS (SELECT doc_a, doc_b, na, nb, count(1) AS c
          FROM pairs GROUP BY doc_a, doc_b, na, nb)
    """


#: DuckDB equivalents of the helpers above (1-based lists, same regexes)
_ORACLE_WORDS = r"regexp_extract_all(lower(text), '[a-z0-9]+')"
_ORACLE_SHINGLES = (
    f"list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] "
    f"FOR i IN range(1, greatest(len(w) - 1, 1))])"
)

def _oracle_pair_ctes(length_ratio: float | None) -> str:
    """Oracle twin of _sized_shingle_groups/_pair_scores: the df-cap, per-doc
    kept-set sizes, and the per-pair shared-shingle COUNT (= |A∩B| over the
    kept sets) — mirrored so the DuckDB side of the benchmark runs the same
    pair-count algorithm, including the pre-aggregation length filter when
    ``length_ratio`` is set (expects a prior CTE ``exploded``)."""
    lenf = (
        f"AND a.n_sh >= {length_ratio} * b.n_sh"
        f" AND b.n_sh >= {length_ratio} * a.n_sh"
        if length_ratio is not None
        else ""
    )
    return f"""
    df AS (
        SELECT shingle, count(*) AS df FROM exploded GROUP BY 1
    ),
    kept AS (
        SELECT e.doc_id, e.shingle
        FROM exploded e JOIN df USING (shingle)
        WHERE df.df <= {SHINGLE_DF_CAP}
    ),
    nsz AS (
        SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1
    ),
    ks AS (
        SELECT k.doc_id, k.shingle, n.n_sh FROM kept k JOIN nsz n USING (doc_id)
    ),
    pairc AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS na, b.n_sh AS nb, count(*) AS c
        FROM ks a JOIN ks b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id {lenf}
        GROUP BY 1, 2, 3, 4
    )"""


@register(
    "dedup_exact",
    oracle="""
    SELECT
        md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_fp,
        min(doc_id) AS keep_doc_id,
        count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalized-content md5; emit duplicate groups with
    the kept (minimum) doc_id. One narrow shuffle on the 128-bit fingerprint."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(_norm(F.col("text"))).alias("content_fp"), "doc_id")
        .groupBy("content_fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, {_ORACLE_SHINGLES} AS shingles
        FROM (SELECT doc_id, {_ORACLE_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ),
    exploded AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    ),{_oracle_pair_ctes(JACCARD_THRESHOLD)}
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / (na + nb - c), 4) AS jaccard
    FROM pairc
    WHERE CAST(c AS DOUBLE) / (na + nb - c) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup as a PAIR-COUNT aggregation: explode distinct
    3-gram shingles, drop stop-shingles (df > SHINGLE_DF_CAP), group the
    survivors by shingle, emit each group's ordered doc pairs row-locally,
    and count — ``count`` IS the exact |A∩B| over the kept sets, so Jaccard
    = c/(|A|+|B|−c) falls out of ONE aggregation with no candidate-distinct
    pass, no per-doc set materialization, and no verify join (sizes ride
    along inside the pair rows — see _sized_shingle_groups). The length
    filter t·|A| ≤ |B| ≤ |A|/t (implied by J ≥ t; Bayardo et al. WWW'07)
    prunes inside the explode lambda, before the shuffle.

    Scale shape: pair work is bounded by the df-cap at CAP × Σdf (linear);
    the pair aggregation is the single big shuffle and it carries four ints
    per row with map-side combine. Measured at the 1000× cell (500 k docs,
    126 M co-occurring pairs): 49 s vs DuckDB's 57 s on the mirrored SQL —
    vs 222 s (r4 set-verify form) and 522 s (AllPairs prefix form, whose
    t=0.5 prefix is half of each doc's shingles — it pruned little and paid
    two extra full-stream passes)."""
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_checkpointed

    df = sql_q(
        spark,
        sf_dir,
        _pair_count_sql(JACCARD_THRESHOLD)
        + f"""
    SELECT doc_a, doc_b, round(jac, 4) AS jaccard
    FROM (SELECT doc_a, doc_b, CAST(c AS DOUBLE)/(na + nb - c) AS jac FROM c)
    WHERE jac >= {JACCARD_THRESHOLD}
    """,
    )
    # r12 (guide §2.4): the final ORDER BY's range sampler re-ran the pair
    # aggregate's final merge + threshold filter over the full pair
    # exchange once per query; checkpoint the surviving pairs, sort those
    return ordered_checkpointed(df, "doc_a", "doc_b")


def _minhash_aggs() -> list[Column]:
    """MinHash signature from ONE md5 per shingle: hash function i is hex
    slice [4i, 4i+4) of md5(shingle) (8 × 16-bit min-wise hashes). Computed as
    min() aggregates over exploded shingles so the digest is evaluated once
    per shingle, not once per seed per shingle."""
    return [
        F.expr(f"min(substring(h, {i * 4 + 1}, 4)) AS mh{i}")
        for i in range(N_MINHASH)
    ]


def _oracle_minhash(i: int) -> str:
    return f"list_min([substr(md5(s), {i * 4 + 1}, 4) FOR s IN shingles])"


def _band_expr(band: int) -> str:
    cols = ", ".join(
        f"mh{j}" for j in range(band * BAND_WIDTH, (band + 1) * BAND_WIDTH)
    )
    return f"md5(concat_ws('|', {cols}))"


def _oracle_band(band: int) -> str:
    cols = " || '|' || ".join(
        f"mh{j}" for j in range(band * BAND_WIDTH, (band + 1) * BAND_WIDTH)
    )
    return f"md5({cols})"


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, {_ORACLE_SHINGLES} AS shingles
        FROM (SELECT doc_id, {_ORACLE_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ),
    sigs AS (
        SELECT doc_id, shingles,
               {", ".join(f"{_oracle_minhash(i)} AS mh{i}" for i in range(N_MINHASH))}
        FROM shingled
    ),
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, shingles, {b} AS band_id, {_oracle_band(b)} AS band_key FROM sigs" for b in range(N_MINHASH // BAND_WIDTH))}
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.shingles AS sh_a, b.shingles AS sh_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.band_id = b.band_id AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                 / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 4) AS jaccard
    FROM candidates
    WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
          / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → {N_MINHASH} min-hashes → {N_MINHASH // BAND_WIDTH}
    bands of {BAND_WIDTH} → band-key equi-join for candidates → exact Jaccard
    verify on candidates only. The equi-join on band keys is the scale path:
    no n² compare, and band buckets shuffle-partition evenly."""
    from pyspark import StorageLevel

    from duckdb_fastlanes_spark.catalog import sql_q

    # One shared per-doc aggregate feeds BOTH the signature and the verify
    # sets: min-wise hashing is duplicate-insensitive and collect_set dedupes,
    # so the raw (non-distinct) shingle rows work for both — this drops the
    # (doc_id, shingle) distinct exchange the naive plan would run.
    mh_cols = ", ".join(
        f"min(substring(h, {i * 4 + 1}, 4)) AS mh{i}" for i in range(N_MINHASH)
    )
    per_doc = sql_q(
        spark,
        sf_dir,
        f"""
        WITH {_SHINGLE_CTE}
        SELECT doc_id, collect_set(shingle) AS shingles, {mh_cols}
        FROM (SELECT doc_id, shingle, md5(shingle) AS h FROM shingles)
        GROUP BY doc_id
        """,
    )
    # per_doc feeds two consumers (signatures for banding, shingle sets for
    # verify). Without a persist, Catalyst prunes it into two DIFFERENT
    # aggregates — one keeping collect_set, one the min-hashes — and the
    # whole regex/shingle pipeline runs twice. Persisting materializes it
    # once; MEMORY_AND_DISK so an executor that can't hold its slice spills
    # instead of recomputing (the 100 TB-safe level). Routed through
    # managed_persist so the bench can unpersist between timed runs —
    # repeated timed executions must rebuild this, not reuse it.
    from duckdb_fastlanes_spark.bench_support import managed_persist

    per_doc = managed_persist(per_doc, StorageLevel.MEMORY_AND_DISK)
    per_doc.createOrReplaceTempView("mh_per_doc")
    n_bands = N_MINHASH // BAND_WIDTH
    # Band ONLY (doc_id, band_id, band_key): the self-join shuffles narrow
    # 3-column rows instead of dragging each doc's shingle array through the
    # explode ×n_bands (measured 1.0 s → 0.86 s at sf0.1, and at scale the
    # shuffle volume drops by the average shingle-set size).
    bands_sql = ", ".join(_band_expr(b) for b in range(n_bands))
    # both sides of the band self-join are the full signature stream
    # (docs × n_bands rows) — corpus-sized; without the pin AQE flips it to
    # a broadcast at mid scale (+36% at the 1000× cell). The gate of
    # ``sizing.pin``, expressed as a MERGE hint in the single-parse body.
    stats = catalog_stats(sf_dir)
    merge = "/*+ MERGE(b) */ " if stats.large else ""
    # Join the shingle sets back onto the surviving pairs. Small corpora
    # broadcast the set table (no shuffle); above 256 MiB of on-disk
    # documents fall back to a shuffle join that AQE plans from the
    # persisted size.
    docs = stats.tables.get("documents")
    small = docs is not None and docs.disk_bytes < 256 * 1024 * 1024
    bc = "/*+ BROADCAST(sa), BROADCAST(sb) */ " if small else ""
    jac_sql = (
        "cast(size(array_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
        " / (size(sa.shingles) + size(sb.shingles)"
        "    - size(array_intersect(sa.shingles, sb.shingles)))"
    )
    return (
        spark.sql(
            f"""
        WITH sigs AS (
            SELECT doc_id,
                   posexplode(array({bands_sql})) AS (band_id, band_key)
            FROM mh_per_doc),
        -- dedup candidate pairs BEFORE the verify join: a pair colliding
        -- in k bands would otherwise be verified k times
        candidates AS (
            SELECT {merge}DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sigs a JOIN sigs b
              ON a.band_key = b.band_key AND a.band_id = b.band_id
                 AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, round(jac, 4) AS jaccard
        FROM (SELECT {bc}doc_a, doc_b, {jac_sql} AS jac
              FROM candidates
              JOIN mh_per_doc sa ON sa.doc_id = doc_a
              JOIN mh_per_doc sb ON sb.doc_id = doc_b)
        WHERE jac >= {JACCARD_THRESHOLD}
        """
        )
        # r12 (guide §2.4, tools/sort_resample_audit.py): the global sort's
        # range sampler re-ran this plan's FINAL stage — band explode,
        # distinct finish and both verify joins — once per query before the
        # real pass. The lazy checkpoint materializes the surviving pairs
        # once; sampler and sort read the blocks. (This query already has
        # no prepared bench number — it persists per_doc — so the bench
        # discipline is unchanged.)
        .localCheckpoint(eager=False)
        .orderBy("doc_a", "doc_b")
    )


#: SimHash: 16-bit fingerprint from per-token md5 bits (portable bit math)
SIMHASH_BITS = 16


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct({_ORACLE_WORDS})) AS tok
        FROM documents
    ),
    bits AS (
        SELECT doc_id, b.bit,
               sum(CASE WHEN (CAST(concat('0x', substr(md5(tok), 1, 4)) AS INTEGER) >> b.bit) & 1 = 1
                        THEN 1 ELSE -1 END) AS weight
        FROM toks, (SELECT unnest(range(0, {SIMHASH_BITS})) AS bit) b
        GROUP BY doc_id, b.bit
    ),
    fps AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN weight > 0 THEN (1 << bit) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    )
    SELECT simhash, min(doc_id) AS keep_doc_id, count(*) AS n_docs
    FROM fps
    GROUP BY simhash
    HAVING count(*) > 1
    ORDER BY simhash
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 16-bit fingerprint = per-bit majority vote of token
    hashes; identical fingerprints group near-duplicates. Pure
    projection+groupBy — two narrow shuffles, no pairwise compare. (Hamming-
    radius search = re-group on fingerprint with masked bit-bands.)"""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        f"""
        WITH toks AS (
            SELECT doc_id,
                   explode(array_distinct(
                       regexp_extract_all(lower(text), '[a-z0-9]+', 0))) AS tok
            FROM documents),
        bits AS (
            SELECT doc_id, bit,
                   CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
            FROM (SELECT doc_id,
                         CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS INT)
                           AS h,
                         explode(sequence(0, {SIMHASH_BITS - 1})) AS bit
                  FROM toks)),
        fps AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN weight > 0 THEN shiftleft(1, bit)
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM (SELECT doc_id, bit, sum(vote) AS weight
                  FROM bits GROUP BY doc_id, bit)
            GROUP BY doc_id)
        SELECT simhash, min(doc_id) AS keep_doc_id, count(1) AS n_docs
        FROM fps
        GROUP BY simhash
        HAVING count(1) > 1
        ORDER BY simhash
        """,
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.e, b.e), 4) AS cosine
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= {COSINE_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairwise cosine *within coarse buckets* (label here;
    IVF cells at scale) — the blocked-join pattern that avoids the n² cross
    join. Dot products stay JVM-side via zip_with + aggregate."""
    from duckdb_fastlanes_spark.catalog import sql_q

    # the label-blocked pairwise join self-joins the full embedding
    # store — corpus-sized both sides, pinned above the threshold (the
    # gate of ``sizing.pin``, inline MERGE hint). Norms are precomputed
    # once per vector (n rows), so the join evaluates one dot per pair.
    merge = "/*+ MERGE(b) */ " if catalog_stats(sf_dir).large else ""
    return sql_q(
        spark,
        sf_dir,
        f"""
        WITH emb AS (
            SELECT vec_id, label,
                   CAST(embedding AS array<double>) AS e,
                   sqrt(aggregate(CAST(embedding AS array<double>), 0D,
                                  (acc, v) -> acc + v * v)) AS nrm
            FROM embeddings)
        SELECT vec_a, vec_b, round(cosine, 4) AS cosine
        FROM (SELECT {merge}a.vec_id AS vec_a, b.vec_id AS vec_b,
                     aggregate(zip_with(a.e, b.e, (p, q) -> p * q), 0D,
                               (acc, v) -> acc + v) / (a.nrm * b.nrm)
                       AS cosine
              FROM emb a JOIN emb b
                ON a.label = b.label AND a.vec_id < b.vec_id)
        WHERE cosine >= {COSINE_THRESHOLD}
        ORDER BY vec_a, vec_b
        """,
    )


@register(
    "dedup_threshold_sweep",
    oracle="""
    WITH emb AS (
        SELECT vec_id, label,
               CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                            x -> x * x))) AS nrm
        FROM embeddings),
    pairs AS (
        SELECT CAST(round(list_inner_product(a.e, b.e) / (a.nrm * b.nrm), 4)
                    * 10000 AS INTEGER) AS cos_u
        FROM emb a JOIN emb b
          ON a.label = b.label AND a.vec_id < b.vec_id),
    binned AS (
        SELECT (cos_u + 10000) // 500 AS bin, count(*) AS n_pairs
        FROM pairs GROUP BY 1)
    SELECT round(CAST(bin * 500 - 10000 AS DOUBLE) / 10000.0, 2) AS threshold,
           n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY bin DESC) AS BIGINT)
             AS pairs_at_or_above
    FROM binned
    ORDER BY threshold
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup THRESHOLD SELECTION curve: in-bucket pair counts per cosine
    bin (width 0.05) with the descending cumulative — "how many pairs would
    a threshold of t flag". This is the knob-setting operator curators run
    BEFORE committing a dedup pass: the knee of the cumulative curve
    separates the near-dup mass from the random-similarity background, and
    eyeballing it on a sample beats guessing COSINE_THRESHOLD.

    Exactness: the cosine is rounded to 4 dp first (the bit-identical value
    dedup_embedding_cosine already hash-matches on), scaled to an exact
    integer, SHIFTED non-negative and floor-divided — no float bin edge and
    no negative-division dialect skew (Spark DIV truncates toward zero,
    DuckDB // floors; on the shifted non-negative domain they agree).

    Scale shape: the same label-blocked pair join as dedup_embedding_cosine
    (never n² — Σ bucket²), one ≤41-row aggregate after it, and the
    cumulative window runs over those ≤41 bins — bounded at any corpus
    size. Norms use the per-VECTOR fold (n rows), and the per-pair dot
    stays a fold: the unrolled-codegen form measured 8× WORSE here (the
    pushed filter duplicates the giant expression; r8 notes)."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH emb AS (
            SELECT vec_id, label,
                   CAST(embedding AS array<double>) AS e,
                   sqrt(aggregate(CAST(embedding AS array<double>), 0D,
                                  (acc, v) -> acc + v * v)) AS nrm
            FROM embeddings),
        pairs AS (
            SELECT CAST(round(
                       aggregate(zip_with(a.e, b.e, (p, q) -> p * q), 0D,
                                 (acc, v) -> acc + v) / (a.nrm * b.nrm), 4)
                       * 10000 AS INT) AS cos_u
            FROM emb a JOIN emb b
              ON a.label = b.label AND a.vec_id < b.vec_id),
        binned AS (
            SELECT (cos_u + 10000) DIV 500 AS bin, count(1) AS n_pairs
            FROM pairs GROUP BY 1)
        SELECT round((bin * 500 - 10000) / 10000.0D, 2) AS threshold,
               n_pairs,
               sum(n_pairs) OVER (ORDER BY bin DESC) AS pairs_at_or_above
        FROM binned
        ORDER BY threshold
        """,
    )


#: recursive-CTE connected components shared by the clustering oracles;
#: defined before first use (module-level f-strings evaluate top-down)
_ORACLE_CC_CTES = ""  # assigned below, after helper definitions


def _cc_ctes() -> str:
    minhash_cols = ", ".join(
        f"{_oracle_minhash(i)} AS mh{i}" for i in range(N_MINHASH)
    )
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, shingles, {b} AS band_id, {_oracle_band(b)} AS band_key FROM sigs"
        for b in range(N_MINHASH // BAND_WIDTH)
    )
    return f"""
    shingled AS (
        SELECT doc_id, {_ORACLE_SHINGLES} AS shingles
        FROM (SELECT doc_id, {_ORACLE_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ),
    sigs AS (
        SELECT doc_id, shingles, {minhash_cols}
        FROM shingled
    ),
    bands AS (
        {bands_union}
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.shingles AS sh_a, b.shingles AS sh_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.band_id = b.band_id AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM candidates
        WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
              / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))
              >= {JACCARD_THRESHOLD}
    ),
    nodes(id) AS (
        SELECT doc_a FROM pairs UNION SELECT doc_b FROM pairs
    ),
    edges(a, b) AS (
        SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, dst) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    clusters AS (
        SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    )"""


_ORACLE_CC_CTES = _cc_ctes()


@register(
    "dedup_cluster_cc",
    oracle=f"""
    WITH RECURSIVE {_ORACLE_CC_CTES}
    SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id
    """,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the verified LSH pair
    graph via iterative min-label propagation (the GraphX/GraphFrames CC
    algorithm on plain DataFrames). Each iteration is one join + one
    aggregate, O(component diameter) iterations — near-dup components are
    shallow in practice, so this converges in a handful of passes at any
    scale (functions/iterate.py has the generic loop and its lineage/
    convergence rationale). The DuckDB oracle computes the same components
    with a recursive-CTE transitive closure — tractable at oracle scale, n²
    at ours, which is exactly why the Spark side iterates instead."""
    from duckdb_fastlanes_spark.functions.iterate import (
        cc_edge_width,
        min_label_propagation,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels, _n_iter = min_label_propagation(
        pairs, width=cc_edge_width(spark, sf_dir)
    )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_ORACLE_CC_CTES}
    SELECT cluster_id,
           first(doc_id ORDER BY n_chars DESC, doc_id ASC) AS keep_doc_id,
           count(*) AS n_members
    FROM clusters JOIN documents USING (doc_id)
    GROUP BY cluster_id
    ORDER BY cluster_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection for near-dup clusters: keep the HIGHEST-
    QUALITY member (longest document, doc_id tiebreak) instead of the
    arbitrary minimum id — the policy corpus curation actually wants, since
    near-dup groups often pair a full document with truncated copies.

    Spark side: CC labels from the iterative min-label propagation (see
    dedup_cluster_cc), one broadcast-sized join to pull the quality signal,
    then max_by over a struct that encodes the (quality DESC, id ASC)
    preference order — a plain aggregate, no window sort. The oracle's
    ``min(doc_id ORDER BY n_chars DESC, doc_id)`` is the same argmax."""
    clusters = dedup_cluster_cc(spark, sf_dir).select("doc_id", "cluster_id")
    quality = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # preference = (n_chars DESC, doc_id ASC) → max_by on (n_chars, -doc_id)
    return (
        clusters.join(quality, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.expr("max_by(doc_id, struct(n_chars, -doc_id)) AS keep_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .orderBy("cluster_id")
    )


#: asymmetric-overlap gate: |A∩B| / min(|A|,|B|) — catches a document that
#: CONTAINS another (quotation, boilerplate wrapping, excerpt) even when
#: symmetric Jaccard stays low because the containing doc is much larger
CONTAINMENT_THRESHOLD = 0.8


@register(
    "dedup_containment",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, {_ORACLE_SHINGLES} AS shingles
        FROM (SELECT doc_id, {_ORACLE_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ),
    exploded AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    ),{_oracle_pair_ctes(None)}
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / least(na, nb), 4) AS containment,
           round(CAST(c AS DOUBLE) / (na + nb - c), 4) AS jaccard
    FROM pairc
    WHERE CAST(c AS DOUBLE) / least(na, nb) >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup: |A∩B| / min(|A|,|B|) ≥ {CONTAINMENT_THRESHOLD}
    over 3-gram shingle sets. The asymmetric companion to
    dedup_ngram_jaccard: an excerpt or boilerplate-wrapped copy scores ~1.0
    containment while its Jaccard can be arbitrarily small, so a
    Jaccard-only pipeline ships the duplicate text anyway. Reported with
    Jaccard side by side — the gap between the two columns IS the excerpt
    signal.

    Same pair-count shape as dedup_ngram_jaccard (one aggregation computes
    the exact |A∩B|; sizes ride inside the pair rows), but with NO length
    filter: containment only bounds overlap from the smaller side, so a
    tiny excerpt inside a huge doc is a legitimate hit and every
    co-occurring pair must be scored. Measured at the 1000× cell: 59 s vs
    DuckDB's 63 s on the mirrored SQL (r4 set-verify form: 160 s; prefix
    form: 185 s)."""
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_checkpointed

    df = sql_q(
        spark,
        sf_dir,
        _pair_count_sql(None)
        + f"""
    SELECT doc_a, doc_b, round(cont, 4) AS containment, round(jac, 4) AS jaccard
    FROM (SELECT doc_a, doc_b,
                 CAST(c AS DOUBLE)/least(na, nb) AS cont,
                 CAST(c AS DOUBLE)/(na + nb - c) AS jac
          FROM c)
    WHERE cont >= {CONTAINMENT_THRESHOLD}
    """,
    )
    # r12 (guide §2.4): same sort-resampling fix as dedup_ngram_jaccard
    return ordered_checkpointed(df, "doc_a", "doc_b")




@register(
    "minhash_calibration",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, {_ORACLE_SHINGLES} AS shingles
        FROM (SELECT doc_id, {_ORACLE_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ),
    sigs AS (
        SELECT doc_id, shingles,
               {", ".join(f"{_oracle_minhash(i)} AS mh{i}" for i in range(N_MINHASH))}
        FROM shingled
    ),
    bands AS (
        {" UNION ALL ".join(f"SELECT doc_id, shingles, {b} AS band_id, {_oracle_band(b)} AS band_key, {', '.join(f'mh{j}' for j in range(N_MINHASH))} FROM sigs" for b in range(N_MINHASH // BAND_WIDTH))}
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.shingles AS sh_a, b.shingles AS sh_b,
               {", ".join(f"a.mh{i} AS amh{i}, b.mh{i} AS bmh{i}" for i in range(N_MINHASH))}
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.band_id = b.band_id AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT ({" + ".join(f"CASE WHEN amh{i} = bmh{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH))}) / {N_MINHASH}.0 AS est,
               CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                 / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS exact
        FROM candidates
    )
    SELECT round(est, 3) AS est_jaccard,
           count(*) AS n_pairs,
           round(avg(exact), 4) AS avg_exact,
           round(avg(abs(est - exact)), 4) AS mae
    FROM scored GROUP BY round(est, 3) ORDER BY est_jaccard
    """,
)
def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch self-calibration: over the LSH candidate pairs, compare the
    MinHash ESTIMATE of Jaccard (matching signature fraction, E[est] =
    exact J) against the exact shingle-set Jaccard, grouped by estimate
    level — the audit that tells you whether {N_MINHASH} hashes are enough
    before trusting the sketch at 100 TB (where exact verification of every
    pair is unaffordable and only calibrated estimates ship). Same plan
    skeleton as dedup_minhash_lsh (shared-aggregate signatures, band
    equi-join, Σ bucket² candidates); the calibration aggregate collapses
    to ≤ {N_MINHASH + 1} estimate levels."""
    d = table(spark, sf_dir, "documents")
    rows = _shingle_rows(d, distinct=False)
    per_doc = (
        rows.selectExpr("doc_id", "shingle", "md5(shingle) AS h")
        .groupBy("doc_id")
        .agg(F.expr("collect_set(shingle) AS shingles"), *_minhash_aggs())
    )
    n_bands = N_MINHASH // BAND_WIDTH
    bands_sql = ", ".join(_band_expr(b) for b in range(n_bands))
    banded = per_doc.selectExpr(
        "doc_id",
        "shingles",
        *[f"mh{i}" for i in range(N_MINHASH)],
        f"posexplode(array({bands_sql})) AS (band_id, band_key)",
    )
    a, b = banded.alias("a"), banded.alias("b")
    pair_cols = [F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                 F.col("a.shingles").alias("sh_a"), F.col("b.shingles").alias("sh_b")]
    pair_cols += [F.col(f"a.mh{i}").alias(f"amh{i}") for i in range(N_MINHASH)]
    pair_cols += [F.col(f"b.mh{i}").alias(f"bmh{i}") for i in range(N_MINHASH)]
    candidates = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(*pair_cols)
        .distinct()
    )
    est = sum(
        F.when(F.col(f"amh{i}") == F.col(f"bmh{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    ) / float(N_MINHASH)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    exact = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        candidates.select(est.alias("est"), exact.alias("exact"))
        .groupBy(F.round("est", 3).alias("est_jaccard"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("exact"), 4).alias("avg_exact"),
            F.round(F.avg(F.abs(F.col("est") - F.col("exact"))), 4).alias("mae"),
        )
        .orderBy("est_jaccard")
    )


BP_MIN_DOCS = 4  # a shingle in >= this many docs is a repeated span
BP_TOPK = 25


@register(
    "dedup_boilerplate_spans",
    oracle=f"""
    WITH shingled AS (
        SELECT doc_id, {_ORACLE_SHINGLES} AS shingles
        FROM (SELECT doc_id, {_ORACLE_WORDS} AS w FROM documents)
        WHERE len(w) >= 3
    ),
    exploded AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    )
    SELECT shingle,
           count(*) AS n_docs,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM exploded
    GROUP BY shingle
    HAVING count(*) >= {BP_MIN_DOCS}
    ORDER BY n_docs DESC, shingle
    LIMIT {BP_TOPK}
    """,
)
def dedup_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span mining (the span-level sibling of whole-doc dedup, à la
    exact-substring training-data dedup reduced to shingle granularity): the
    top {BP_TOPK} 3-gram shingles by cross-document spread, keeping those in
    ≥ {BP_MIN_DOCS} distinct docs — the headers/footers/license-block
    candidates a span-removal pass would strip corpus-wide.

    Scale shape: one shingle-keyed aggregate that partial-aggregates
    map-side (the shuffle carries (shingle, partial count/min/max), never
    text) and ends in a TakeOrderedAndProject — no global sort, no join.
    Integer counts only; ties broken on the shingle string.
    """
    d = table(spark, sf_dir, "documents")
    sh = _shingle_rows(d)  # distinct (doc_id, shingle)
    return (
        sh.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= BP_MIN_DOCS)
        .orderBy(F.col("n_docs").desc(), "shingle")
        .limit(BP_TOPK)
    )


#: boilerplate-prefix fingerprint length (normalized chars): long enough to
#: exclude coincidental short openings, short enough that a shared template
#: header fingerprints identically whatever follows
PREFIX_FP_CHARS = 64


@register(
    "dedup_exact_prefix",
    oracle=f"""
    SELECT md5(substr(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
               1, {PREFIX_FP_CHARS})) AS prefix_fp,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    ORDER BY prefix_fp
    """,
)
def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint dedup: group on the md5 of the FIRST
    {PREFIX_FP_CHARS} normalized characters — catches template/boilerplate
    headers (scraped pages, license preambles, chat-log prompts) that full-
    text dedup misses because the tails differ. Same one-narrow-shuffle
    shape as dedup_exact; n_sources shows whether a prefix family is one
    crawl artifact or cross-source boilerplate. Single-parse SQL body."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        f"""
        SELECT md5(substr(lower(regexp_replace(trim(text), '\\\\s+', ' ')),
                   1, {PREFIX_FP_CHARS})) AS prefix_fp,
               min(doc_id) AS keep_doc_id,
               count(1) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM documents
        GROUP BY 1
        HAVING count(1) > 1
        ORDER BY prefix_fp
        """,
    )


@register(
    "dedup_rate_by_source",
    oracle=f"""
    WITH fp AS (
        SELECT source,
               md5(substr(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                   1, {PREFIX_FP_CHARS})) AS f
        FROM documents
    ),
    cnt AS (SELECT f, count(*) AS n FROM fp GROUP BY f)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS shared_prefix_docs,
           round(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
               AS dup_rate
    FROM fp JOIN cnt USING (f)
    GROUP BY source
    ORDER BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate — the curation dashboard number that
    decides which ingest feeds get trimmed: fraction of each source's docs
    whose normalized {PREFIX_FP_CHARS}-char prefix is shared with ANY other
    doc (cross-source included; within-source-only rates hide mirror-site
    duplication). Two aggregates on the fingerprint + one broadcast-sized
    join back; never touches text twice. Single-parse SQL body."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        f"""
        WITH fp AS (
            SELECT source,
                   md5(substr(lower(regexp_replace(trim(text), '\\\\s+', ' ')),
                       1, {PREFIX_FP_CHARS})) AS f
            FROM documents),
        cnt AS (SELECT f, count(1) AS n FROM fp GROUP BY f)
        SELECT source, count(1) AS n_docs,
               CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS shared_prefix_docs,
               round(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) * 1.0D / count(1), 4)
                   AS dup_rate
        FROM fp JOIN cnt USING (f)
        GROUP BY source
        ORDER BY source
        """,
    )
