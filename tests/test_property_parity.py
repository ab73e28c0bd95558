"""Property-based cross-engine parity for the SURVEY §7 hard parts.

Hypothesis generates adversarial inputs; each batch runs through BOTH Spark
and DuckDB and must agree value-for-value:
- F6 surrogate_key == dbt_utils md5/concat expansion (any strings, NULLs,
  unicode, embedded separators);
- P2 TRY_CAST(ts) over the reference's timestamp shapes and corruptions;
- F2 SPLIT_PART with negative/out-of-range indexes.

Examples are kept small (each costs a Spark job) but each example is a whole
batch of generated rows.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ecom_snowflake_duckdb_migration_spark.functions.core import surrogate_key, try_to_timestamp

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

text_or_null = st.one_of(
    st.none(),
    st.text(min_size=0, max_size=30),  # full unicode incl. '-' and quotes
)


import datetime as _dt

# 4-digit-year domain: the reference's raw layer never carries pre-1000
# years, and the engines genuinely diverge outside it (see
# test_known_try_cast_divergences).
_dts = st.datetimes(min_value=_dt.datetime(1000, 1, 1))


@st.composite
def timestampish(draw):
    """Strings in the shapes the reference's raw layer actually carries
    (normalized, ISO-with-millis) plus corruptions of them."""
    base = draw(
        st.one_of(
            _dts.map(lambda d: d.strftime("%Y-%m-%d %H:%M:%S")),
            _dts.map(lambda d: d.strftime("%Y-%m-%dT%H:%M:%S.") + "123"),
            st.sampled_from(["", "not-a-date", "2024-13-45 99:99:99", "0000-00-00"]),
        )
    )
    if draw(st.booleans()):
        # corrupt: truncate or inject a character
        cut = draw(st.integers(0, max(len(base) - 1, 0)))
        base = base[:cut] + draw(st.sampled_from(["", "x", " ", "-"])) + base[cut:]
    return base


def _duck(rows, cols, sql):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    placeholders = ", ".join(["(" + ", ".join(["?"] * len(cols)) + ")"] * len(rows))
    colnames = ", ".join(cols)
    flat = [v for r in rows for v in r]
    return con.execute(
        f"WITH t({colnames}) AS (VALUES {placeholders}) {sql}", flat
    ).fetchall()


@given(st.lists(st.tuples(text_or_null, text_or_null), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_surrogate_key_matches_dbt_utils_md5(spark, vals):
    df = spark.createDataFrame(vals, "a string, b string")
    got = [r.k for r in df.select(surrogate_key("a", "b").alias("k")).collect()]
    want = [
        r[0]
        for r in _duck(
            vals,
            ["a", "b"],
            "SELECT md5(concat_ws('-', coalesce(cast(a as varchar), ''), "
            "coalesce(cast(b as varchar), ''))) FROM t",
        )
    ]
    assert got == want


@given(st.lists(st.tuples(timestampish()), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_try_cast_timestamp_parity(spark, vals):
    # The engine contract (functions.core.try_to_timestamp) bounds accepted
    # years to 1..9999; the oracle applies the same bound, since raw TRY_CAST
    # diverges outside it (DuckDB parses '-2000-...' as BC, Spark's cast
    # yields a negative-year timestamp no Python datetime can carry).
    # Zone contract (see try_to_timestamp docstring): '+'/'-' after the time
    # is a zone designator; engines disagree irreconcilably (Spark applies
    # JVM offsets bounded at +-18h, DuckDB shifts by e.g. '-23'), so the
    # contract rejects zone-bearing strings and the oracle applies the same
    # filter.
    df = spark.createDataFrame(vals, "s string")
    got = [r.ts for r in df.select(try_to_timestamp("s").alias("ts")).collect()]
    want = [
        r[0]
        for r in _duck(
            vals,
            ["s"],
            "SELECT CASE WHEN NOT regexp_matches(s, ':.*[-+]') "
            "AND year(TRY_CAST(s AS TIMESTAMP)) BETWEEN 1 AND 9999 "
            "THEN TRY_CAST(s AS TIMESTAMP) END FROM t",
        )
    ]
    assert got == want, f"inputs: {[v[0] for v in vals]}"


@given(
    st.lists(
        st.tuples(
            st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=25),
            st.integers(-6, 6).filter(lambda i: i != 0),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_split_part_negative_index_parity(spark, vals):
    df = spark.createDataFrame(vals, "s string, n int")
    got = [
        r.p
        for r in df.select(
            F.split_part(F.col("s"), F.lit(","), F.col("n")).alias("p")
        ).collect()
    ]
    want = [r[0] for r in _duck(vals, ["s", "n"], "SELECT SPLIT_PART(s, ',', n) FROM t")]
    assert got == want, f"inputs: {vals}"


def test_known_try_cast_divergences(spark):
    """Documented cross-engine differences OUTSIDE the reference's data
    domain (found by hypothesis, pinned here so a behavior change is
    noticed): DuckDB parses 1-3 digit years; Spark's cast requires 4."""
    cases = ["999-01-01 00:00:00", "5-01-01 00:00:00"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r.ts for r in df.select(F.expr("try_cast(s as timestamp)").alias("ts")).collect()]
    assert got == [None, None]  # Spark: NULL
    want = [r[0] for r in _duck([(c,) for c in cases], ["s"], "SELECT TRY_CAST(s AS TIMESTAMP) FROM t")]
    assert all(w is not None for w in want)  # DuckDB: parsed


def test_try_to_timestamp_rejects_out_of_range_years(spark):
    """The engine's range contract: BC years (leading '-') and 5-digit years
    -> NULL, even though both raw engines parse them (Spark to a
    negative-year timestamp that breaks Python conversion, DuckDB to BC /
    far-future timestamps its client returns as strings)."""
    cases = ["-2000-01-01 00:00:00", "10000-01-01 00:00:00", "2024-06-01 12:00:00"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = [r.ts for r in df.select(try_to_timestamp("s").alias("ts")).collect()]
    assert got[0] is None and got[1] is None
    assert got[2] is not None and got[2].year == 2024


@given(
    st.lists(
        st.text(alphabet="abc xyz", min_size=1, max_size=400), min_size=1, max_size=12
    ),
    st.integers(20, 120),
    st.integers(0, 19),
)
@settings(**SETTINGS)
def test_chunking_reconstructs_any_text(spark, texts, size, overlap):
    """Property: for ANY text and any (chunk_size, overlap), the chunks
    reconstruct the text exactly and every window start is on the stride
    grid (chunk_documents contract)."""
    from ecom_snowflake_duckdb_migration_spark.operators.text import chunk_documents

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = chunk_documents(df, chunk_size=size, overlap=overlap).collect()
    stride = size - overlap
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in enumerate(texts):
        cs = sorted(by_doc[doc_id], key=lambda r: r.chunk_id)
        assert [c.chunk_start for c in cs] == [i * stride + 1 for i in range(len(cs))]
        rebuilt = cs[0].chunk_text + "".join(c.chunk_text[overlap:] for c in cs[1:])
        assert rebuilt == text
        assert cs[-1].chunk_start - 1 + len(cs[-1].chunk_text) == len(text)


@given(st.integers(0, 1_000_000), st.integers(0, 2_000_000))
@settings(**SETTINGS)
def test_sampling_threshold_matches_duckdb_selection(spark, rate_e6, n_ids):
    """Property: the hex-threshold selection is identical in Spark and
    DuckDB for any rate (the q55 engine-parity invariant, without the
    documents table in the way)."""
    from ecom_snowflake_duckdb_migration_spark.operators.sampling import (
        rate_to_threshold_hex, sample_hash,
    )

    ids = list(range(n_ids % 200))  # small but arbitrary id sets
    if not ids:
        return
    thr = rate_to_threshold_hex(rate_e6)
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = sorted(
        r.doc_id for r in df.filter(sample_hash("doc_id", 42) < F.lit(thr)).collect()
    )
    con = duckdb.connect()
    want = sorted(
        r[0]
        for r in con.execute(
            "SELECT i FROM (SELECT unnest(?) AS i) "
            "WHERE substring(md5('42:' || CAST(i AS VARCHAR)), 1, 8) < ?",
            [ids, thr],
        ).fetchall()
    )
    assert got == want


@given(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 20)), min_size=1, max_size=25),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20), st.integers(1, 9)),
        min_size=0, max_size=25,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    """Property: asof_join == the per-row brute force (latest right at or
    before, per key) for arbitrary collisions and ties."""
    import datetime

    from ecom_snowflake_duckdb_migration_spark.operators.asof import asof_join

    T = lambda s: datetime.datetime(2026, 3, 1, 0, 0, s)
    # operator contract: right side deduped per (key, ts) -> keep max value
    rd = {}
    for k, ts, v in rights:
        rd[(k, ts)] = max(rd.get((k, ts), 0), v)
    left_rows = [(i, k, T(ts)) for i, (k, ts) in enumerate(lefts)]
    right_rows = [(k, T(ts), float(v)) for (k, ts), v in sorted(rd.items())]
    left = spark.createDataFrame(left_rows, "row_id long, k long, ts timestamp")
    if right_rows:
        right = spark.createDataFrame(right_rows, "k long, ts timestamp, value double")
    else:
        right = spark.createDataFrame([], "k long, ts timestamp, value double")
    got = {
        r.row_id: r.m
        for r in asof_join(left, right, key="k", payload="value", out_col="m").collect()
    }
    for i, (k, ts) in enumerate(lefts):
        candidates = [(t, v) for (kk, t), v in rd.items() if kk == k and t <= ts]
        want = float(max(candidates)[1]) if candidates else None
        assert got[i] == want, (i, k, ts, candidates)


@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 300_000)), min_size=1, max_size=20),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 300_000), st.integers(0, 200_000)),
        min_size=1, max_size=10,
    ),
    st.sampled_from([3_600, 86_400, 40_000]),
)
@settings(**SETTINGS)
def test_range_join_matches_bruteforce(spark, points, intervals, bin_w):
    """Property: the banded equi-join produces EXACTLY the theta-join pairs
    for arbitrary bin widths and bin-straddling intervals."""
    import datetime

    from ecom_snowflake_duckdb_migration_spark.operators.rangejoin import range_join

    T = lambda s: datetime.datetime(2026, 4, 1) + datetime.timedelta(seconds=s)
    p_rows = [(i, k, T(ts)) for i, (k, ts) in enumerate(points)]
    iv_rows = [(j, k, T(s), T(s + ln)) for j, (k, s, ln) in enumerate(intervals)]
    p = spark.createDataFrame(p_rows, "pid long, k long, ts timestamp")
    iv = spark.createDataFrame(iv_rows, "ivid long, k long, start_ts timestamp, end_ts timestamp")
    got = sorted(
        (r.pid, r.ivid)
        for r in range_join(p, iv, "ts", "start_ts", "end_ts",
                            equi_keys=["k"], bin_width_seconds=bin_w).collect()
    )
    want = sorted(
        (i, j)
        for i, (pk, pts) in enumerate(points)
        for j, (ik, s, ln) in enumerate(intervals)
        if pk == ik and s <= pts <= s + ln
    )
    assert got == want


@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 300_000)), min_size=1, max_size=20),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 300_000), st.integers(0, 200_000)),
        min_size=0, max_size=10,
    ),
    st.sampled_from([3_600, 86_400, 40_000]),
)
@settings(**SETTINGS)
def test_range_join_left_matches_bruteforce(spark, points, intervals, bin_w):
    """Property: how="left" keeps every unmatched point as one NULL-extended
    row (the round-4 footgun: a post-join range filter silently dropped
    them, making "left" behave as inner)."""
    import datetime

    from ecom_snowflake_duckdb_migration_spark.operators.rangejoin import range_join

    T = lambda s: datetime.datetime(2026, 4, 1) + datetime.timedelta(seconds=s)
    p_rows = [(i, k, T(ts)) for i, (k, ts) in enumerate(points)]
    iv_rows = [(j, k, T(s), T(s + ln)) for j, (k, s, ln) in enumerate(intervals)]
    p = spark.createDataFrame(p_rows, "pid long, k long, ts timestamp")
    iv = spark.createDataFrame(
        iv_rows, "ivid long, k long, start_ts timestamp, end_ts timestamp"
    )
    got = sorted(
        (r.pid, r.ivid)
        for r in range_join(p, iv, "ts", "start_ts", "end_ts",
                            equi_keys=["k"], bin_width_seconds=bin_w,
                            how="left").collect()
    )
    matched = {
        i: sorted(
            j
            for j, (ik, s, ln) in enumerate(intervals)
            if ik == pk and s <= pts <= s + ln
        )
        for i, (pk, pts) in enumerate(points)
    }
    want = sorted(
        (i, j)
        for i, js in matched.items()
        for j in (js or [None])
    )
    assert got == want


@given(st.lists(st.integers(0, 2), min_size=1, max_size=30), st.integers(2, 4))
@settings(**SETTINGS)
def test_rollup_any_split_equals_full_recompute(spark, tmp_path_factory, assignment, n_batches):
    """Property (the q59 invariant, randomized): applying the event stream
    in ANY batch partition through merge-refresh equals one full group-by."""
    import datetime

    from ecom_snowflake_duckdb_migration_spark.operators.rollup import (
        read_rollup, refresh_rollup,
    )

    T = lambda i: datetime.datetime(2026, 5, 1 + (i % 3), i % 24)
    rows = [
        (i, "t" + str(i % 2), float(i % 7) / 2, T(i)) for i in range(len(assignment))
    ]
    path = str(tmp_path_factory.mktemp("rollup_prop") / "r")
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double, ts timestamp")
    for b in range(n_batches):
        batch_ids = [i for i, a in enumerate(assignment) if a % n_batches == b]
        batch = df.filter(F.col("event_id").isin(batch_ids) if batch_ids else F.lit(False))
        refresh_rollup(spark, path, batch)
    got = {
        (str(r.bucket), r.event_type): (r.n_rows, round(r.total_value, 4))
        for r in read_rollup(spark, path).collect()
    }
    want = {}
    for i, a in enumerate(assignment):
        key = (str(T(i).date()), "t" + str(i % 2))
        n, v = want.get(key, (0, 0.0))
        want[key] = (n + 1, round(v + float(i % 7) / 2, 4))
    want = {k: (n, round(v, 4)) for k, (n, v) in want.items()}
    assert got == want


# ---------------------------------------------------------------------------
# Bitmap-word distinct counting (the q22/q13 rewrite) and grouped HLL
# ---------------------------------------------------------------------------


@given(
    keys=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=300),
)
@settings(**SETTINGS)
def test_bitmap_word_distinct_equals_exact(spark, keys):
    """The 63-bit-word bitmap rewrite counts EXACTLY (it is not a sketch):
    sum(bit_count(bit_or(1 << k%63))) grouped by k div 63 == COUNT(DISTINCT k)
    for any multiset of non-negative ints — the precondition documented on
    Q22_SQL_BITMAP/Q13_SQL_BITMAP."""
    df = spark.createDataFrame([(k,) for k in keys], "k BIGINT")
    got = (
        df.selectExpr("k div 63 AS w", "shiftleft(1L, CAST(k % 63 AS INT)) AS b")
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .agg(F.sum(F.bit_count("bits")).cast("long").alias("n"))
        .collect()[0]
        .n
    )
    assert got == len(set(keys))


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.text(min_size=0, max_size=8)),
        min_size=1,
        max_size=200,
    ),
)
@settings(**SETTINGS)
def test_hll_group_merge_equals_whole(spark, rows):
    """Grouped-HLL merge algebra under arbitrary splits: building per-half
    sketches and (group, bucket)-max-merging them equals the whole-data
    sketch, for any (group, string-key) multiset."""
    from ecom_snowflake_duckdb_migration_spark.operators import sketches as sk

    df = spark.createDataFrame(rows, "g STRING, k STRING")
    # split on a stable hash so the two halves partition the multiset
    a = df.filter(F.crc32(F.concat_ws("|", "g", "k")) % 2 == 0)
    b = df.filter(F.crc32(F.concat_ws("|", "g", "k")) % 2 == 1)
    merged = (
        sk.hll_group_sketch(a, ["g"], "k")
        .unionByName(sk.hll_group_sketch(b, ["g"], "k"))
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    whole = sk.hll_group_sketch(df, ["g"], "k")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


@given(
    texts=st.lists(
        st.text(alphabet="abcdef ", min_size=0, max_size=24), min_size=2, max_size=8
    ),
    threshold_e6=st.sampled_from([1, 300_000, 800_000, 1_000_000]),
)
@settings(**SETTINGS)
def test_jaccard_verify_matches_python_set_math(spark, texts, threshold_e6):
    """The Arrow-kernel verify over char_shingle_sets (size-ratio
    prefilter + n_inter>=1 gate) must equal naive per-pair Python set
    Jaccard over ALL candidate pairs — pinning it against the ground truth
    rather than only the oracle corpus. Tiny alphabet forces heavy shingle
    collisions/overlap; empty/short texts exercise the no-shingle drop."""
    from ecom_snowflake_duckdb_migration_spark.operators import text as tx

    docs = [(i, t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    ids = [i for i, _ in docs]
    cand = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], ["d1", "d2"]
    )
    sh = tx.char_shingle_sets(d)
    got = {
        (r.d1, r.d2): r.jaccard_e6
        for r in tx.jaccard_verify_pairs(cand, sh, threshold_e6=threshold_e6).collect()
    }

    def shingles(t):
        return {t[i : i + 3] for i in range(len(t) - 2)} if len(t) >= 3 else set()

    want = {}
    for a, ta in docs:
        for b, tb in docs:
            if a >= b:
                continue
            sa, sb = shingles(ta), shingles(tb)
            inter = len(sa & sb)
            if inter < 1:
                continue
            j = inter * 1_000_000 // len(sa | sb)
            if j >= threshold_e6:
                want[(a, b)] = j
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=20), min_size=2, max_size=6
    )
)
@settings(**SETTINGS)
def test_minhash_md5_signatures_match_python_model(spark, texts):
    """minhash_signatures(hash_fn='md5') value-for-value against a pure
    Python reimplementation (hashlib.md5 over the same 'seed:shingle'
    strings, lexicographic min over the hex digests) — the banding layers
    above inherit correctness from these exact values. Short/empty texts
    must yield NO signature row (the phantom-shingle regression guard at
    the signature level)."""
    import hashlib

    from ecom_snowflake_duckdb_migration_spark.operators import text as tx

    docs = [(i, t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    sig = tx.minhash_signatures(d, num_hashes=8, hash_fn="md5")
    got = {r.doc_id: tuple(r[f"mh_{s}"] for s in range(8)) for r in sig.collect()}

    want = {}
    for i, t in docs:
        shingles = {t[j : j + 3] for j in range(len(t) - 2)} if len(t) >= 3 else set()
        if not shingles:
            continue
        want[i] = tuple(
            min(hashlib.md5(f"{s}:{sh}".encode()).hexdigest() for sh in shingles)
            for s in range(8)
        )
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=20), min_size=1, max_size=6
    )
)
@settings(**SETTINGS)
def test_simhash_md5_matches_python_model(spark, texts):
    """simhash64(hash_fn='md5') value-for-value against pure Python: the
    same 60-bit md5-prefix token hash, +-1 bit sums over token
    MULTIPLICITY (explode keeps repeats — a set model would diverge on
    repeated tokens), bit set iff sum > 0. Empty text still fingerprints
    (split(trim('')) yields one '' token): identical docs must collide,
    by design."""
    import hashlib
    import re

    from ecom_snowflake_duckdb_migration_spark.operators import text as tx

    docs = [(i, t) for i, t in enumerate(texts)]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r.doc_id: r.simhash for r in tx.simhash64(d, hash_fn="md5").collect()}

    want = {}
    for i, t in docs:
        toks = re.split(r"\s+", t.strip())
        fp = 0
        for b in range(60):
            s = 0
            for tok in toks:
                h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                s += 1 if (h >> b) & 1 else -1
            if s > 0:
                fp |= 1 << b
        want[i] = fp
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30), min_size=2, max_size=6
    )
)
@settings(**SETTINGS)
def test_exact_substring_dedup_matches_python_model(spark, texts):
    """ExactSubstr (x87) vs a pure-Python reimplementation: global k-gram
    occurrence lists, keep-first by (doc_id, pos), erase the covered
    positions of every later occurrence. Tiny two-letter alphabet forces
    heavy duplicated runs, overlaps, and within-doc repeats; empty and
    whitespace-only texts pin the ['']-token split semantics both engines
    share (the class of bug the corpus oracle can never see)."""
    import re

    from ecom_snowflake_duckdb_migration_spark.operators import text as tx

    k = 3
    docs = [(i, t) for i, t in enumerate(texts)]
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in tx.exact_substring_dedup(
            spark.createDataFrame(docs, ["doc_id", "text"]), k=k
        ).collect()
    }

    toks = {i: re.split(r"\s+", t.strip()) for i, t in docs}
    occs: dict = {}
    for i in sorted(toks):
        ws = toks[i]
        for p in range(len(ws) - k + 1):
            occs.setdefault(tuple(ws[p : p + k]), []).append((i, p))
    covered = {i: set() for i in toks}
    for lst in occs.values():
        for i, p in sorted(lst)[1:]:
            covered[i].update(range(p, p + k))
    want = {}
    for i, ws in toks.items():
        keep = [w for j, w in enumerate(ws) if j not in covered[i]]
        want[i] = (" ".join(keep), len(ws), len(ws) - len(keep))
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 10**9), st.integers(-5_000_000, 5_000_000)),
        min_size=3,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(0, 1000),
)
@settings(**SETTINGS)
def test_gumbel_topk_matches_python_model(spark, rows, seed):
    """gumbel_topk_sample's selection == an independent pure-Python model
    (hashlib md5 h60 + math.log Gumbel keys) — pins the whole
    hash-to-noise-to-ranking pipeline, not just the corpus oracle."""
    import hashlib
    import math

    from ecom_snowflake_duckdb_migration_spark.operators.sampling import (
        gumbel_topk_sample,
    )

    n = max(1, len(rows) // 2)
    df = spark.createDataFrame(rows, ["doc_id", "logw_e6"]).selectExpr(
        "doc_id", "CAST(logw_e6 AS BIGINT) AS logw_e6"
    )
    got = [
        (r.doc_id, r.key_e6)
        for r in gumbel_topk_sample(df, "logw_e6", n=n, seed=seed).collect()
    ]

    def key(doc_id, logw):
        h60 = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:15], 16)
        u = (h60 + 0.5) / float(1 << 60)
        return logw + math.floor(-math.log(-math.log(u)) * 1_000_000.0)

    want = sorted(
        ((d, key(d, w)) for d, w in rows), key=lambda t: (-t[1], t[0])
    )[:n]
    assert got == want
