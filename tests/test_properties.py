"""Property-based tests (hypothesis) for the driver-side numeric kernels.

These run without a SparkSession: functions/minhash_pandas.py's shingle
hashing and signature math are pure numpy, so statistical properties of
the MinHash estimator can be checked densely and fast.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kamu_engine_flink_spark.functions.minhash_pandas import (
    _families,
    _shingle_hashes,
    minhash_signature_udf,  # noqa: F401 — import proves udf construction works
)

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _signature(shingles: np.ndarray, k: int = 64) -> np.ndarray:
    a, b = _families(k)
    with np.errstate(over="ignore"):
        return ((a[:, None] * shingles[None, :] + b[:, None]) & _MASK).min(axis=1)


def _exact_jaccard(x: np.ndarray, y: np.ndarray) -> float:
    inter = len(np.intersect1d(x, y))
    union = len(np.union1d(x, y))
    return inter / union if union else 1.0


words = st.text(alphabet="abcdefgh ", min_size=0, max_size=200)


@settings(max_examples=50, deadline=None)
@given(words)
def test_shingle_hashes_deterministic_and_distinct(text):
    h1 = _shingle_hashes(text.encode(), 5)
    h2 = _shingle_hashes(text.encode(), 5)
    assert np.array_equal(h1, h2)
    assert len(np.unique(h1)) == len(h1)
    assert len(h1) >= 1  # short text is padded to one shingle


@settings(max_examples=30, deadline=None)
@given(words, words)
def test_minhash_estimator_tracks_exact_jaccard(t1, t2):
    """|estimate - exact| stays within ~5.6 sigma of the k=64 estimator
    (sigma = sqrt(j(1-j)/64) <= 0.0625) — a bound violated with
    probability ~1e-8 per example if the estimator is unbiased."""
    s1 = _shingle_hashes(t1.encode(), 5)
    s2 = _shingle_hashes(t2.encode(), 5)
    exact = _exact_jaccard(s1, s2)
    est = float(np.mean(_signature(s1) == _signature(s2)))
    assert abs(est - exact) <= 0.35


@settings(max_examples=20, deadline=None)
@given(words)
def test_minhash_identity(text):
    s = _shingle_hashes(text.encode(), 5)
    assert np.array_equal(_signature(s), _signature(s.copy()))
    assert _exact_jaccard(s, s) == 1.0


# --- audio window tiling (operators/multimodal._audio_window_grid) -------

durations = st.lists(st.integers(min_value=0, max_value=100_000), min_size=1, max_size=40)
window_sizes = st.integers(min_value=1, max_value=5_000)


@settings(max_examples=60, deadline=None)
@given(durations, window_sizes)
def test_audio_window_grid_tiles_exactly(durs, wms):
    from kamu_engine_flink_spark.operators.multimodal import _audio_window_grid

    nwin, idx, start, end = _audio_window_grid(durs, wms)
    clamped = [max(d, 1) for d in durs]
    # per-row window counts
    assert list(nwin) == [-(-d // wms) for d in clamped]  # ceil division
    pos = 0
    for d, n in zip(clamped, nwin):
        s, e, ix = start[pos : pos + n], end[pos : pos + n], idx[pos : pos + n]
        assert list(ix) == list(range(n))  # indices restart per row
        assert s[0] == 0 and e[-1] == d  # tiles cover [0, d)
        assert all(e[i] == s[i + 1] for i in range(n - 1))  # no gaps/overlap
        assert all(0 < e[i] - s[i] <= wms for i in range(n))  # bounded width
        pos += n
    assert pos == len(start) == len(end) == len(idx)


# ---------------------------------------------------------------------------
# Top-N changelog fold vs a brute-force oracle.
#
# fold_records (operators/topn.py) maintains a running top-N with
# insert-after-ties and emits correction pairs per trigger record. The
# independent oracle: because rows only ever move DOWN after insertion, the
# running top-N after record i equals the stable sort of rows[0..i] (by
# score, arrival-stable, Flink's row_number null ordering) truncated to N;
# emissions are the positional diff between consecutive prefixes. Every
# emission must match op-for-op, place-for-place — including None scores
# and ties.

import functools

scores = st.lists(
    st.one_of(st.none(), st.integers(min_value=0, max_value=9)), min_size=0, max_size=40
)


@settings(max_examples=200, deadline=None)
@given(scores, st.integers(min_value=1, max_value=4), st.booleans())
def test_fold_records_matches_brute_force_oracle(vals, limit, descending):
    from kamu_engine_flink_spark.operators.topn import (
        OP_APPEND,
        OP_CORRECT_FROM,
        OP_CORRECT_TO,
        fold_records,
    )

    rows = [({"v": v, "id": i}, i) for i, v in enumerate(vals)]
    ranking: list = []
    got = list(fold_records(ranking, rows, [("v", descending)], limit))

    def beats(a, b):
        if a is None:
            return (not descending) and b is not None
        if b is None:
            return descending
        return (a > b) if descending else (a < b)

    def cmp(ra, rb):
        if beats(ra["v"], rb["v"]):
            return -1
        if beats(rb["v"], ra["v"]):
            return 1
        return -1 if ra["id"] < rb["id"] else 1

    expected = []
    prev_top: list = []
    for i in range(len(vals)):
        prefix = sorted((r for r, _ in rows[: i + 1]), key=functools.cmp_to_key(cmp))
        top = prefix[:limit]
        sub = 0
        for place in range(limit):
            new_r = top[place] if place < len(top) else None
            old_r = prev_top[place] if place < len(prev_top) else None
            if new_r is None:
                break
            if old_r is None:
                expected.append((i, sub, OP_APPEND, place + 1, new_r))
                sub += 1
            elif old_r != new_r:
                expected.append((i, sub, OP_CORRECT_FROM, place + 1, old_r))
                sub += 1
                expected.append((i, sub, OP_CORRECT_TO, place + 1, new_r))
                sub += 1
        prev_top = top

    assert got == expected
    # and the final persisted ranking equals the oracle's final top-N
    assert ranking == prev_top


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE matcher vs a regex oracle.
#
# SQL:2016 row-pattern matching uses the same leftmost, preference-ordered
# backtracking as classic regex engines, so try_match (the shared NFA core
# of operators/match_recognize.py) can be checked independently: encode
# each row as a character whose bits say which variables' predicates hold,
# map each pattern element to a character class, and compare match SPANS
# under AFTER MATCH SKIP PAST LAST ROW with re.finditer (leftmost,
# non-overlapping — the same attempt loop the fold runs in batch mode).

import re as _re

_VARS = ["A", "B", "C"]


def _mr_elements(pattern_spec):
    """pattern_spec: list of (var_bits, quant, greedy) -> engine elements
    (single-var tuples; var_bits selects which of A/B/C the element is)."""
    from kamu_engine_flink_spark.operators.match_recognize import _parse_pattern

    text = []
    for var, quant, greedy in pattern_spec:
        q = {"one": "", "opt": "?", "star": "*", "plus": "+"}.get(quant)
        if q is None:  # ("range", mn, mx)
            mn, mx = quant[1], quant[2]
            q = f"{{{mn}}}" if mx == mn else (f"{{{mn},}}" if mx is None else f"{{{mn},{mx}}}")
        text.append(var + q + ("" if greedy or not q else "?"))
    return _parse_pattern(" ".join(text))


def _regex_for(pattern_spec):
    """Same pattern as a regex over bitmask characters: row char =
    chr('a' + bitmask of satisfied vars); var V matches any char with V's
    bit set."""
    parts = []
    for var, quant, greedy in pattern_spec:
        bit = 1 << _VARS.index(var)
        cls = "[" + "".join(
            chr(ord("a") + m) for m in range(8) if m & bit
        ) + "]"
        q = {"one": "", "opt": "?", "star": "*", "plus": "+"}.get(quant)
        if q is None:
            mn, mx = quant[1], quant[2]
            q = f"{{{mn}}}" if mx == mn else (f"{{{mn},}}" if mx is None else f"{{{mn},{mx}}}")
        parts.append(cls + q + ("" if greedy or not q else "?"))
    return _re.compile("".join(parts))


def _engine_spans(preds, elements, n):
    """The fold's batch attempt loop (AFTER MATCH SKIP PAST LAST ROW,
    final watermark): ascending starts, jump past each match."""
    from kamu_engine_flink_spark.operators.match_recognize import try_match

    att = {"n": n, "final": True}
    spans = []
    i = 0
    while i < n:
        r = try_match(preds, elements, att, i, 0, [])
        if r and r[0] == "match" and r[1] > i:
            spans.append((i, r[1]))
            i = r[1]
        else:
            i += 1
    return spans


quant_strategy = st.one_of(
    st.sampled_from(["one", "opt", "star", "plus"]),
    st.tuples(
        st.just("range"), st.integers(0, 3),
        st.one_of(st.none(), st.integers(0, 4)),
    ).filter(lambda t: t[2] is None or t[2] >= t[1]),
)
pattern_strategy = st.lists(
    st.tuples(st.sampled_from(_VARS), quant_strategy, st.booleans()),
    min_size=1,
    max_size=4,
).filter(
    # at least one element that must consume a row, else the pattern can
    # match empty (regex yields zero-width matches; the engine skips them)
    lambda spec: any(
        q == "one" or q == "plus" or (isinstance(q, tuple) and q[1] > 0)
        for _, q, _ in spec
    )
)


@settings(max_examples=300, deadline=None)
@given(
    pattern_strategy,
    st.lists(st.integers(min_value=0, max_value=7), min_size=0, max_size=18),
)
def test_try_match_spans_match_regex_oracle(pattern_spec, row_masks):
    elements = _mr_elements(pattern_spec)
    preds = {
        v: [bool(m & (1 << k)) for m in row_masks]
        for k, v in enumerate(_VARS)
    }
    got = _engine_spans(preds, elements, len(row_masks))
    text = "".join(chr(ord("a") + m) for m in row_masks)
    expected = [
        (m.start(), m.end())
        for m in _regex_for(pattern_spec).finditer(text)
        if m.end() > m.start()
    ]
    assert got == expected, (pattern_spec, row_masks)


pair_scores = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=4)),
        st.one_of(st.none(), st.integers(min_value=0, max_value=4)),
    ),
    min_size=0,
    max_size=30,
)


@settings(max_examples=150, deadline=None)
@given(pair_scores, st.integers(min_value=1, max_value=3))
def test_fold_records_composite_order_matches_brute_force(vals, limit):
    """Composite rank order (v DESC, w ASC) against the prefix-sort
    oracle — ties on the leading column must break by the second, nulls
    per-column (DESC last / ASC first), full ties arrival-stable."""
    from kamu_engine_flink_spark.operators.topn import (
        OP_APPEND,
        OP_CORRECT_FROM,
        OP_CORRECT_TO,
        beats_key,
        fold_records,
    )

    order = [("v", True), ("w", False)]
    rows = [({"v": v, "w": w, "id": i}, i) for i, (v, w) in enumerate(vals)]
    ranking: list = []
    got = list(fold_records(ranking, rows, order, limit))

    def cmp(ra, rb):
        ka = (ra["v"], ra["w"])
        kb = (rb["v"], rb["w"])
        if beats_key(ka, kb, order):
            return -1
        if beats_key(kb, ka, order):
            return 1
        return -1 if ra["id"] < rb["id"] else 1

    expected = []
    prev_top: list = []
    for i in range(len(vals)):
        prefix = sorted((r for r, _ in rows[: i + 1]), key=functools.cmp_to_key(cmp))
        top = prefix[:limit]
        sub = 0
        for place in range(limit):
            new_r = top[place] if place < len(top) else None
            old_r = prev_top[place] if place < len(prev_top) else None
            if new_r is None:
                break
            if old_r is None:
                expected.append((i, sub, OP_APPEND, place + 1, new_r))
                sub += 1
            elif old_r != new_r:
                expected.append((i, sub, OP_CORRECT_FROM, place + 1, old_r))
                sub += 1
                expected.append((i, sub, OP_CORRECT_TO, place + 1, new_r))
                sub += 1
        prev_top = top
    assert got == expected


# ---------------------------------------------------------------------------
# Top-N chunk fold contract: make_batch_fold(...)(chunk_pdf, starts) over a
# multi-key chunk must equal the concatenation of per-key fold_records runs
# (state rows ranked by place, slice rows replayed in __seq order), each
# followed by the key's new ranking.

opt_small = st.one_of(st.none(), st.integers(min_value=0, max_value=5))
key_runs = st.lists(
    st.tuples(
        st.lists(st.tuples(opt_small, opt_small), max_size=6),  # state history
        st.lists(st.tuples(opt_small, opt_small), max_size=12),  # slice rows
    ),
    min_size=1,
    max_size=5,
)


@settings(max_examples=150, deadline=None)
@given(
    key_runs,
    st.integers(min_value=1, max_value=3),
    st.booleans(),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_batch_fold_equals_per_key_fold_records(
    runs, limit, descending, composite, rnd
):
    import pandas as pd
    from hypothesis import assume

    from kamu_engine_flink_spark.functions.grouped import run_starts
    from kamu_engine_flink_spark.operators.topn import (
        GSEQ_COL,
        KIND_COL,
        OP_COL,
        SEQ_INPUT,
        SUB_COL,
        fold_records,
        make_batch_fold,
    )

    order = [("v", descending)] + ([("w", not descending)] if composite else [])
    value_cols = ["k", "v", "w"]
    chunk_rows: list[dict] = []
    expected: list[dict] = []
    seq = 0
    for g, (history, slice_vals) in enumerate(runs):
        if not history and not slice_vals:
            continue
        key = None if g == 1 else f"k{g}"
        # A valid previous state: the ranking that folding `history` leaves.
        state: list = []
        for _ in fold_records(
            state,
            [({"k": key, "v": v, "w": w}, -1) for v, w in history],
            order,
            limit,
        ):
            pass
        run = [{"place": p + 1, **r, SEQ_INPUT: None} for p, r in enumerate(state)]
        slice_rows = []
        for v, w in slice_vals:
            slice_rows.append(({"k": key, "v": v, "w": w}, seq))
            run.append({"place": None, "k": key, "v": v, "w": w, SEQ_INPUT: seq})
            seq += 1
        rnd.shuffle(run)  # the fold sorts state by place and slice by __seq
        chunk_rows.extend(run)

        ranking = [dict(r) for r in state]
        for gseq, sub, op, place, row in fold_records(
            ranking, slice_rows, order, limit
        ):
            expected.append({**row, "place": place, OP_COL: op, GSEQ_COL: gseq,
                             SUB_COL: sub, KIND_COL: 0})
        for i, row in enumerate(ranking):
            expected.append({**row, "place": i + 1, OP_COL: None,
                             GSEQ_COL: None, SUB_COL: None, KIND_COL: 1})
    assume(chunk_rows)

    pdf = pd.DataFrame(chunk_rows, columns=["place", *value_cols, SEQ_INPUT])
    starts = run_starts(pdf, ["k"]).tolist()
    got = make_batch_fold(value_cols, "place", order, limit)(pdf, starts)
    assert got == expected
