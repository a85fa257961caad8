"""Property-based identity proofs for the round-12 operators: each
declarative formulation (per-value cumulative tables, doubled midranks,
running-min identities, packed argmax keys) is checked against a
brute-force reference on hypothesis-generated inputs — pure Python, no
Spark, so thousands of cases run in seconds. These pin the MATH the
engine/oracle pair both implement; the mimic pins the engines against
each other."""

from __future__ import annotations

from collections import Counter
from fractions import Fraction

from hypothesis import given, settings, strategies as st

VALUES = st.lists(st.integers(min_value=0, max_value=50), min_size=2, max_size=60)


@settings(max_examples=300, deadline=None)
@given(VALUES)
def test_gmd_doubled_midrank_identity(xs):
    """sum(x*c*(dr - (n+1))) over the per-value table equals the brute
    pairwise |x_i - x_j| sum, ties included (agg_gini_mean_difference)."""
    n = len(xs)
    brute = sum(
        abs(a - b) for i, a in enumerate(xs) for b in xs[i + 1 :]
    )
    cnt = Counter(xs)
    total = 0
    cum_before = 0
    for v in sorted(cnt):
        c = cnt[v]
        dr = 2 * cum_before + c + 1
        total += v * c * (dr - (n + 1))
        cum_before += c
    assert total == brute


@settings(max_examples=300, deadline=None)
@given(VALUES, VALUES, VALUES)
def test_jonckheere_doubled_units_identity(f, p, o):
    """jt_x2 from the cumulative per-value formula equals 2x the brute
    pairwise U sum with half tie credit over the ordered (F, P, O)
    triple (agg_jonckheere_terpstra)."""

    def u2(xs, ys):  # 2*U(xs -> ys): #(x<y)*2 + #(x==y)
        return sum(
            2 * (x < y) + (x == y) for x in xs for y in ys
        )

    brute = u2(f, p) + u2(f, o) + u2(p, o)
    values = sorted(set(f) | set(p) | set(o))
    cf_cnt, cp_cnt = Counter(f), Counter(p)
    co_cnt = Counter(o)
    jt_x2 = 0
    cf = cp = 0
    for v in values:
        fv, pv, ov = cf_cnt[v], cp_cnt[v], co_cnt[v]
        jt_x2 += (pv + ov) * (2 * cf + fv) + ov * (2 * cp + pv)
        cf += fv
        cp += pv
    assert jt_x2 == brute


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=80)
)
def test_cusum_running_min_identity(counts):
    """S_t = P_t - min(0, min_{s<=t} P_s) equals the recursive
    S_t = max(0, S_{t-1} + (n_t - k)) for the integer-mean target
    (agg_cusum_drift)."""
    k = sum(counts) // len(counts)
    s_rec, out_rec = 0, []
    for n in counts:
        s_rec = max(0, s_rec + (n - k))
        out_rec.append(s_rec)
    p, pmin, out_id = 0, 0, []
    for n in counts:
        p += n - k
        pmin = min(pmin, p)
        out_id.append(p - min(0, pmin))
    assert out_id == out_rec


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=2,
        max_size=50,
    )
)
def test_kendall_lattice_identity(pairs):
    """Cell-count cross products over the strict q-order half of the
    (q, band) lattice equal brute-force concordant/discordant pair
    counts (agg_kendall_tau)."""
    brute_c = brute_d = 0
    for i, (q1, b1) in enumerate(pairs):
        for q2, b2 in pairs[i + 1 :]:
            if (q1 < q2 and b1 < b2) or (q1 > q2 and b1 > b2):
                brute_c += 1
            elif (q1 < q2 and b1 > b2) or (q1 > q2 and b1 < b2):
                brute_d += 1
    cells = Counter(pairs)
    keys = sorted(cells)
    conc = disc = 0
    for i, a in enumerate(keys):
        for b in keys:
            if a[0] < b[0]:
                if a[1] < b[1]:
                    conc += cells[a] * cells[b]
                elif a[1] > b[1]:
                    disc += cells[a] * cells[b]
    assert (conc, disc) == (brute_c, brute_d)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=10**9), min_size=1, max_size=60
    )
)
def test_aroon_packed_key_decode(cents):
    """max(cents*10^4 + rn) / min(cents*10^4 + (9999 - rn)) decode to the
    brute argmax/argmin positions with the most-recent tie rule
    (window_aroon_indicator)."""
    rns = list(range(1, len(cents) + 1))
    hi_key = max(c * 10000 + rn for c, rn in zip(cents, rns))
    lo_key = min(c * 10000 + (9999 - rn) for c, rn in zip(cents, rns))
    hi_rn = hi_key % 10000
    lo_rn = 9999 - (lo_key % 10000)
    mx, mn = max(cents), min(cents)
    assert hi_rn == max(rn for c, rn in zip(cents, rns) if c == mx)
    assert lo_rn == max(rn for c, rn in zip(cents, rns) if c == mn)


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=-10**12, max_value=10**12),
    st.integers(min_value=1, max_value=30),
)
def test_theil_sen_sign_split_division(diff, lag):
    """sign(diff) * (|diff|*10^4 div lag) equals trunc-toward-zero of
    diff*10^4/lag in BOTH floor-division (DuckDB //) and trunc-division
    (Spark div) semantics — the reason the entry splits the sign
    (agg_theil_sen_banded)."""
    # exact: a float quotient is inexact once |diff| * 10^4 passes 2^53
    expect = int(Fraction(diff * 10000, lag))  # int() truncates toward zero
    sign = -1 if diff < 0 else 1
    # floor-division form (DuckDB // on the nonnegative |diff| is safe)
    got_floor = sign * ((abs(diff) * 10000) // lag)
    assert got_floor == expect
    # and for positive operands floor == trunc, so Spark div agrees


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=1000), min_size=1, max_size=60
    )
)
def test_underwater_episode_identity(cents):
    """Gaps-and-islands (rn - underwater-subseq rn) reproduces the brute
    consecutive-underwater-day episodes (window_underwater_duration)."""
    peak = []
    m = 0
    for c in cents:
        m = max(m, c)
        peak.append(m)
    under = [i for i, c in enumerate(cents) if c < peak[i]]
    # brute episodes: consecutive indices
    brute = []
    for i in under:
        if brute and brute[-1][-1] == i - 1:
            brute[-1].append(i)
        else:
            brute.append([i])
    # islands grouping: rn - ru constant within an episode
    groups = {}
    for ru, i in enumerate(under, start=1):
        groups.setdefault((i + 1) - ru, []).append(i)
    islands = sorted(groups.values())
    assert sorted(brute) == islands
    for ep in islands:
        depth = max(peak[i] - cents[i] for i in ep)
        assert depth > 0


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from("FOP"),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=6,
        max_size=60,
    )
)
def test_friedman_crossmult_ranks(rows):
    """Cross-multiplied integer comparisons of (sum, count) pairs rank
    cell means identically to float-mean ranking with midrank ties
    (agg_friedman_test's rank step)."""
    sums = Counter()
    cnts = Counter()
    for g, v in rows:
        sums[g] += v
        cnts[g] += 1
    groups = [g for g in "FOP" if cnts[g]]
    if len(groups) < 2:
        return
    from fractions import Fraction

    for a in groups:
        below_f = sum(
            1
            for b in groups
            if Fraction(sums[b], cnts[b]) < Fraction(sums[a], cnts[a])
        )
        ties_f = sum(
            1
            for b in groups
            if b != a
            and Fraction(sums[b], cnts[b]) == Fraction(sums[a], cnts[a])
        )
        below_i = sum(
            1 for b in groups if sums[b] * cnts[a] < sums[a] * cnts[b]
        )
        ties_i = sum(
            1
            for b in groups
            if b != a and sums[b] * cnts[a] == sums[a] * cnts[b]
        )
        assert (below_f, ties_f) == (below_i, ties_i)
