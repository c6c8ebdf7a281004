"""Property tests (hypothesis) for the portable helpers — the pieces
whose cross-engine bit-equality everything else leans on."""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from big_data_project_spark.functions.portable import sql_pround
from big_data_project_spark.operators.dedup import (
    _MH_A,
    _MH_B,
    MERSENNE_P,
    MINHASH_N,
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@settings(max_examples=200, deadline=None)
@given(
    st.floats(
        min_value=-1e6,
        max_value=1e6,
        allow_nan=False,
        allow_infinity=False,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_pround_matches_python_floor_form(x, n):
    """pround's floor(x*s+0.5)/s is the exact same double in Python —
    the SQL form evaluates the identical IEEE expression."""
    scale = float(10**n)
    expected = math.floor(x * scale + 0.5) / scale
    expr = sql_pround(f"CAST({x!r} AS DOUBLE)", n)
    got = duckdb.sql(f"SELECT {expr}").fetchone()[0]
    assert got == expected


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=60))
def test_hash60_sql_matches_python_md5(duck, s):
    """The SQL-side 60-bit md5 prefix equals hashlib's on any ASCII
    string (bound as a parameter, no escaping)."""
    got = duck.execute(
        "SELECT (('0x' || substr(md5(?), 1, 15)))::BIGINT", [s]
    ).fetchone()[0]
    want = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    assert got == want


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=(1 << 60) - 1))
def test_minhash_permutations_stay_in_field(h):
    """Affine permutation outputs stay in [0, p) and every multiply fits
    signed 64-bit exactly (the cross-engine-portability invariant)."""
    h31 = h % MERSENNE_P
    for j in range(MINHASH_N):
        prod = _MH_A[j] * h31
        assert prod < (1 << 62)
        m = (prod + _MH_B[j]) % MERSENNE_P
        assert 0 <= m < MERSENNE_P


@settings(max_examples=100, deadline=None)
@given(
    st.sets(st.integers(0, 400), max_size=40),
    st.sets(st.integers(0, 400), max_size=40),
)
def test_jaccard_identity_bounds(a, b):
    """|A∩B| / |A∪B| as computed by the operators' i/(na+nb-i) form is
    the true Jaccard and stays within [0, 1]."""
    if not a or not b:
        return
    i = len(a & b)
    j = i / (len(a) + len(b) - i)
    assert 0.0 <= j <= 1.0
    assert j == len(a & b) / len(a | b)
    if a == b:
        assert j == 1.0


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(alphabet="ab ", max_size=8), max_size=6))
def test_shingle_count_formula(tokens):
    """A doc with n tokens yields exactly max(0, n-2) 3-gram positions
    (distinctness only ever shrinks that)."""
    n = len(tokens)
    positions = max(0, n - 2)
    shingles = {
        " ".join(tokens[i : i + 3]) for i in range(positions)
    }
    assert len(shingles) <= max(0, n - 2)
    if n >= 3 and len(set(tokens)) == n:
        assert len(shingles) == n - 2


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=1, max_value=10**9),
    st.integers(min_value=1, max_value=99),
)
def test_rank_ceil_identity(n, p):
    """The integer rank form (p*n + 99) div 100 used by the winsorize /
    PSI / quantile operators is exactly ceil(p*n/100) for every
    feasible n — no float quantile arithmetic to drift cross-engine."""
    assert (p * n + 99) // 100 == math.ceil(p * n / 100)


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=1, max_value=10**9),
    st.integers(min_value=1, max_value=20),
)
def test_quantile_bucket_rank_identity(n, bins):
    """The per-bin edge rank (q*n + bins-1) div bins == ceil(q*n/bins)
    for every bin index q (delay_drift_psi's quintile edges)."""
    for q in range(1, bins):
        assert (q * n + bins - 1) // bins == math.ceil(q * n / bins)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=1, max_value=2**40))
def test_log2_bucket_bin_identity(duck, x):
    """length(bin(x)) - 1 == floor(log2(x)) for x >= 1 — the integer
    bucketing the gap/duration/doc-length histograms rely on instead of
    a float log that could straddle a bucket edge differently per
    engine."""
    got = duck.execute(
        "SELECT length(bin(CAST(? AS BIGINT))) - 1", [x]
    ).fetchone()[0]
    assert got == x.bit_length() - 1


# --- protobuf wire codec (sources/protofeed.py): the seam every
# FeedMessage key trusts — round-trip over the FULL int64 domain and
# the whole entity graph, not just hand-picked boundaries ---


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1))
def test_varint_roundtrip_full_int64(v):
    from big_data_project_spark.sources.protofeed import _enc_varint, _varint

    buf = _enc_varint(v)
    assert _varint(buf, 0, len(buf)) == (v, len(buf))


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**31),
    st.integers(min_value=0, max_value=2**31),
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
            min_size=1,
            max_size=12,
        ),
    ),
    st.one_of(
        st.none(),
        st.floats(
            min_value=-1e9, max_value=1e9,
            allow_nan=False, allow_infinity=False,
        ),
    ),
    st.integers(min_value=0, max_value=2**31),
)
def test_feed_entity_roundtrip(eid, uid, etype, value, epoch_s):
    """decode ∘ encode is the identity on every field the reference
    poller reads, for all three entity shapes."""
    import math as _math
    import struct

    from big_data_project_spark.sources.protofeed import (
        _ENTITY_COLS,
        _encode_entity,
        _entity_row,
    )

    buf = _encode_entity(eid, uid, etype, value, epoch_s)
    row = dict(zip(_ENTITY_COLS, _entity_row(buf)))
    assert row["entity_id"] == f"e{eid}"
    kind = eid % 3
    if kind != 2:  # alerts carry no trip descriptor (poller walk)
        assert row["trip_id"] == f"t{uid}"
        assert row["route_id"] == etype
    if kind == 0:
        assert row["entity_kind"] == "vehicle"
        assert row["vehicle_id"] == f"v{uid}"
        assert row["vehicle_ts"] == epoch_s
        f32 = lambda x: struct.unpack("<f", struct.pack("<f", x))[0]  # noqa: E731
        assert row["latitude"] == f32(44.0 + (eid % 1000) * 0.001)
        assert row["longitude"] == f32(26.0 + (uid % 1000) * 0.001)
        if eid % 2 == 0:
            assert row["bearing"] == f32(float(eid % 360))
        else:
            assert row["bearing"] is None
        if value is not None:
            assert row["speed"] == f32(value)
        else:
            assert row["speed"] is None
    elif kind == 1:
        assert row["entity_kind"] == "trip_update"
        d = int(_math.floor(value)) if value is not None else 0
        n = uid % 3
        assert row["delay_seconds"] == d
        assert row["n_stop_updates"] == n
        assert row["sum_arrival_delay"] == sum(d + k for k in range(n))
        assert row["sum_departure_delay"] == sum(
            d - k for k in range(n) if k % 2 == 1
        )
    else:
        assert row["entity_kind"] == "alert"
        assert row["cause"] == 1 + eid % 12
        assert row["effect"] == 1 + uid % 11
        assert row["description"] == etype


# --- decimal folds (functions/portable.py): the order-independent
# accumulation every streaming twin and large aggregate leans on —
# check the SQL form against an exact python Decimal spec on random
# inputs (the Spark side is pinned by the 222 DuckDB parity oracles)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_sql_dsum_matches_decimal_spec(duck, xs, n):
    """sql_dsum == floor-round of the exact DECIMAL(28,6) sum: each
    value quantizes to 6dp (the ::DECIMAL cast), the quantized values
    sum EXACTLY, and the double division/round happens once."""
    from decimal import ROUND_HALF_EVEN, Decimal

    from big_data_project_spark.functions.portable import sql_dsum

    q = Decimal("0.000001")
    total = sum(
        Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_EVEN) for x in xs
    )
    scale = float(10**n)
    expected = math.floor(float(total) * scale + 0.5) / scale
    vals = ", ".join(f"({x!r}::DOUBLE)" for x in xs)
    got = duck.execute(
        f"SELECT {sql_dsum('v', n)} FROM (VALUES {vals}) t(v)"
    ).fetchone()[0]
    assert got == expected


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=6),
)
def test_sql_davg_matches_decimal_spec(duck, xs, n):
    from decimal import ROUND_HALF_EVEN, Decimal

    from big_data_project_spark.functions.portable import sql_davg

    q = Decimal("0.000001")
    total = sum(
        Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_EVEN) for x in xs
    )
    scale = float(10**n)
    expected = math.floor(float(total) / len(xs) * scale + 0.5) / scale
    vals = ", ".join(f"({x!r}::DOUBLE)" for x in xs)
    got = duck.execute(
        f"SELECT {sql_davg('v', n)} FROM (VALUES {vals}) t(v)"
    ).fetchone()[0]
    assert got == expected
