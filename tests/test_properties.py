"""Property-based contracts (hypothesis): the portable seeded hash
and the chunking rules hold for ARBITRARY inputs, checked against
independent pure-Python references through DuckDB.

Closing the loop: the driver gate pins Spark == DuckDB on the fixture
corpus; these properties pin DuckDB == an independent reference on
generated inputs — so a silent divergence in either construction
can't hide behind the fixtures.

DuckDB-only on purpose (no Spark session): hundreds of hypothesis
examples run in milliseconds here, where one Spark job each would
take minutes. The one exception pins a Spark expression against
``F.window`` itself, with a few examples of many rows each.
"""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
from hypothesis import example, given, settings
from hypothesis import strategies as st

from map_reduce_sf_crime_spark.functions.hashing import HEX_DIGITS, hash64_sql
from map_reduce_sf_crime_spark.operators.packing import (
    CDC_DIVISOR,
    CDC_SEED,
    CDC_WINDOW,
    cdc_chunk_count_sql,
)

CON = duckdb.connect()


def ref_hash64(s: str, seed: str | None = None) -> int:
    """Independent reference for the portable 60-bit hash contract
    (functions/hashing.py): first 15 hex digits of md5 over UTF-8."""
    x = (f"{seed}:{s}" if seed is not None else s).encode("utf-8")
    return int(hashlib.md5(x).hexdigest()[:HEX_DIGITS], 16)


@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
    ),
    st.sampled_from([None, "cdc", "shuffle", "sample", "0", "15"]),
)
@settings(max_examples=200, deadline=None)
def test_hash64_matches_python_reference(s, seed):
    got = CON.execute(
        f"select {hash64_sql('?', seed=seed)}", [s]
    ).fetchone()[0]
    assert got == ref_hash64(s, seed)
    assert 0 <= got < 1 << (HEX_DIGITS * 4)


@given(st.integers(0, 100_000), st.integers(1, 4096))
@settings(max_examples=200, deadline=None)
def test_fixed_chunk_count_and_sizes(doc_tok, c):
    """The chunk_pack_sql window formula: chunk count is
    max(ceil(n/C), 1) and the per-chunk least() sizes partition the
    document exactly (one zero-token chunk for empty docs)."""
    rows = CON.execute(
        """
        select cast(least(?, ? - i * ?) as bigint)
        from (select unnest(generate_series(0,
              cast(greatest(ceil(? * 1.0 / ?), 1) as bigint) - 1)) as i)
        """,
        [c, doc_tok, c, doc_tok, c],
    ).fetchall()
    sizes = [r[0] for r in rows]
    assert len(sizes) == max(math.ceil(doc_tok / c), 1)
    assert sum(sizes) == doc_tok
    assert all(0 <= s <= c for s in sizes)
    assert all(s == c for s in sizes[:-1])  # only the tail is short


_words = st.lists(
    st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz0123456789",
        min_size=1,
        max_size=6,
    ),
    max_size=50,
)


@given(_words)
@settings(max_examples=80, deadline=None)
def test_cdc_chunk_count_matches_reference(toks):
    """The content-defined boundary rule (packing._cdc_boundaries /
    cdc_chunk_count_sql): boundary after 1-based position i iff the
    seeded hash of the window ending at i is ≡ 0 mod divisor, interior
    positions only."""
    text = " ".join(toks)
    CON.execute(
        "create or replace table documents as "
        "select 1::bigint as doc_id, ?::varchar as text",
        [text],
    )
    got = CON.sql(cdc_chunk_count_sql()).fetchone()[1]
    ref_toks = [t for t in re.split(r"\s+", text) if t]
    assert ref_toks == toks  # tokenizer sanity on this alphabet
    boundaries = sum(
        1
        for i in range(CDC_WINDOW, len(ref_toks))
        if ref_hash64(" ".join(ref_toks[i - CDC_WINDOW : i]), CDC_SEED)
        % CDC_DIVISOR
        == 0
    )
    assert got == boundaries + 1
    CON.execute("drop table documents")


# ---------------------------------------------------------------- MDX parser


_MDX_FRAGMENTS = st.lists(
    st.sampled_from(
        [
            "select", "from", "where", "on", "columns", "rows",
            "{", "}", "(", ")", ",", ".",
            "[Measures].[crimes]", "[Category].[All Categories]",
            "[District].[All Districts]", "[Time].[2013]", "[Time]",
            "[sfcrime]", "[bogus]", ".Children", ".Members", "[",
            # round-6 set-function grammar: keywords, flags, numbers,
            # comparison operators — the parser must stay total
            "Order", "TopCount", "Filter", "Crossjoin", "NON", "EMPTY",
            "BDESC", "ASC", "3", "0", "1.5", ">=", "<>", "<", "=",
        ]
    ),
    max_size=14,
).map(" ".join)


@given(st.one_of(st.text(max_size=80), _MDX_FRAGMENTS))
@settings(max_examples=300, deadline=None)
def test_mdx_parser_is_total(text):
    """The MDX parser rejects arbitrary garbage with MdxError ONLY —
    never IndexError/AttributeError/recursion — so a malformed query
    from a user can't crash a driver with an unhandled exception.
    (Valid parses are fine too; this property is about failure mode,
    values are pinned in tests/test_mdx.py.)"""
    from map_reduce_sf_crime_spark.mdx import MdxError, parse_mdx

    try:
        parse_mdx(text)
    except MdxError:
        pass


# ---- per-group quota cap: the bucket-quota decomposition (SM2) ----
#
# operators/sampling.per_group_cap_flags keeps `in-bucket rank <=
# (cap - rows in strictly-higher buckets)`. This property pins that
# arithmetic — clamping, NULL bucket, boundary ties, any bucket
# count — against the naive "sort each group, take cap" reference on
# arbitrary inputs, in the same IEEE doubles Spark evaluates. The
# Spark wiring of the identical formula is pinned against the naive
# window in tests/test_corpus_order.py.


def _cap_bucket(s, buckets, lo, hi):
    if s is None:
        return -1
    width = (hi - lo) / buckets
    return min(buckets - 1, max(0, math.floor((s - lo) / width)))


def _two_phase_kept(rows, cap, buckets, lo=0.0, hi=1.0):
    from collections import defaultdict

    bygb = defaultdict(list)
    for g, s, d in rows:
        bygb[(g, _cap_bucket(s, buckets, lo, hi))].append((s, d))
    kept = set()
    for (g, bb), lst in bygb.items():
        prior = sum(
            len(v) for (g2, b2), v in bygb.items() if g2 == g and b2 > bb
        )
        quota = cap - prior
        # score desc with NULLs last, doc_id asc — the operator's order
        lst.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
        kept.update(d for r, (s, d) in enumerate(lst, 1) if r <= quota)
    return kept


def _naive_kept(rows, cap):
    from collections import defaultdict

    byg = defaultdict(list)
    for g, s, d in rows:
        byg[g].append((s, d))
    kept = set()
    for g, lst in byg.items():
        lst.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
        kept.update(d for (s, d) in lst[:cap])
    return kept


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.one_of(
                st.none(),
                # in-range, boundary, and out-of-range (clamped) scores
                st.floats(
                    min_value=-0.5,
                    max_value=1.5,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
        ),
        max_size=60,
    ),
    st.integers(0, 20),
    st.sampled_from([1, 2, 4, 16, 256]),
)
@settings(max_examples=300, deadline=None)
def test_cap_bucket_decomposition_equals_naive(gs, cap, buckets):
    rows = [(g, s, i) for i, (g, s) in enumerate(gs)]
    assert _two_phase_kept(rows, cap, buckets) == _naive_kept(rows, cap)


@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet="abcdefghij", min_size=1, max_size=4
            ),
            st.integers(min_value=0, max_value=1_000_000),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda kv: kv[0],
    ).filter(lambda rows: sum(w for _, w in rows) > 0),
    st.integers(min_value=0, max_value=10_000_000),
)
@settings(max_examples=200, deadline=None)
def test_token_budget_quotas_sql_matches_mirror(rows, budget):
    """MX2's largest-remainder apportionment: the DuckDB twin equals
    an independent python mirror for arbitrary weights and budgets,
    and quotas always sum EXACTLY to the budget."""
    import duckdb

    from map_reduce_sf_crime_spark.operators.sampling import (
        token_budget_quotas_sql,
    )

    weights_sql = " union all ".join(
        f"select '{k}' as lang, cast({w} as bigint) as mix_weight_ppm"
        for k, w in rows
    )
    got = dict(
        duckdb.sql(
            token_budget_quotas_sql(budget, weights_sql)
        ).fetchall()
    )
    tw = sum(w for _, w in rows)
    base = {k: (w * budget) // tw for k, w in rows}
    rem = {k: (w * budget) % tw for k, w in rows}
    left = budget - sum(base.values())
    for k in sorted(rem, key=lambda k: (-rem[k], k))[:left]:
        base[k] += 1
    assert got == base
    assert sum(got.values()) == budget


@given(
    st.lists(
        # 1900-01-01 .. 1970-01-01, in microseconds
        st.integers(-2_208_988_800_000_000, 0), min_size=1, max_size=40
    )
)
@example([-1, -1_800_000_001, -3_600_000_000])
@settings(max_examples=12, deadline=None)
def test_fused_windows_match_f_window_before_1970(spark, micros):
    """streaming.windows._fused_windows assigns each event to the same
    tumbling (1h) and sliding (1h/30min) window starts as F.window,
    pre-1970 timestamps included (floor, not round toward zero)."""
    from pyspark.sql import functions as F

    from map_reduce_sf_crime_spark.streaming.windows import _fused_windows

    ev = spark.createDataFrame(list(enumerate(micros)), "id long, us long").select(
        "id", F.timestamp_micros("us").alias("ts")
    )
    fused = ev.select("id", F.explode(_fused_windows(F.col("ts"))).alias("w")).select(
        "id", "w.kind", F.unix_micros("w.ws")
    )
    windowed = ev.select(
        "id", F.lit("tumbling"), F.unix_micros(F.window("ts", "1 hour").start)
    ).unionAll(
        ev.select(
            "id",
            F.lit("sliding"),
            F.unix_micros(F.window("ts", "1 hour", "30 minutes").start),
        )
    )
    assert sorted(map(tuple, fused.collect())) == sorted(
        map(tuple, windowed.collect())
    )
