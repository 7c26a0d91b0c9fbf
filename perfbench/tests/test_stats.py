import numpy as np
import pandas as pd
import pytest

import gen
from stats import frame_hash, min_samples, percentile, summarize, supported


def test_percentile_matches_numpy_linear():
    rs = np.random.default_rng(0)
    for n in (1, 2, 5, 17, 100):
        xs = list(rs.normal(size=n))
        for q in (0, 10, 50, 90, 99, 100):
            assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_sample_count_rule_needs_ten_beyond():
    assert min_samples(50) == 20
    assert min_samples(90) == 100
    assert min_samples(99) == 1000
    assert not supported(90, 99)
    assert supported(90, 100)


def test_summarize_reports_count_and_p90_support():
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == pytest.approx(50.5)
    assert s["p90_supported"]
    assert summarize([1.0, 2.0])["p90_supported"] is False
    assert summarize([]) == {"n": 0}


def test_frame_hash_is_order_insensitive_and_counts_duplicates():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = a.iloc[::-1].reset_index(drop=True)
    assert frame_hash(a, ["k", "v"]) == frame_hash(b, ["k", "v"])
    dup = pd.concat([a, a.iloc[:1]], ignore_index=True)
    assert frame_hash(dup, ["k", "v"]) != frame_hash(a, ["k", "v"])
    changed = a.assign(v=["x", "y", "w"])
    assert frame_hash(changed, ["k", "v"]) != frame_hash(a, ["k", "v"])


def test_inputs_are_a_function_of_the_seed():
    pd.testing.assert_frame_equal(gen.orders(3), gen.orders(3))
    assert not gen.orders(3).equals(gen.orders(4))
    live = np.arange(1, 20_001)
    a, b = gen.IngestStream(3, 3, live), gen.IngestStream(3, 3, live)
    for _ in range(8):
        (ka, fa), (kb, fb) = a.next(live), b.next(live)
        assert ka == kb
        pd.testing.assert_frame_equal(fa, fb)
    assert gen.read_round(gen.rng(5, 5)) == gen.read_round(gen.rng(5, 5))
    assert gen.slice_bounds(1, 1000, 4) == gen.slice_bounds(1, 1000, 4)


def test_every_third_write_is_a_delete_and_upserts_have_unique_keys():
    live = np.arange(1, 50_001)
    s = gen.IngestStream(1, 3, live)
    kinds, rows = [], []
    for _ in range(18):
        kind, frame = s.next(live)
        kinds.append(kind)
        rows.append(len(frame))
        assert frame["o_orderkey"].is_unique
    assert kinds == (["upsert"] * 2 + ["delete"]) * 6
    # one large delta in each group of four upserts (one round's):
    # fixed volume per round
    ups = [n for k, n in zip(kinds, rows) if k == "upsert"]
    for i in range(0, len(ups), 4):
        assert sorted(ups[i:i + 4]) == [1000] * 3 + [5000]


def test_sessions_gaps_and_islands():
    gap_us = gen.GAP_MS * 1000
    ev = pd.DataFrame({
        "user_id": [1, 1, 1, 2],
        "event_id": [1, 2, 3, 4],
        "ts_us": [0, gap_us, 2 * gap_us + 1, 5],
    })
    got = gen.sessions(ev).sort_values(["user_id", "start_us"])
    assert got.values.tolist() == [
        [1, 0, gap_us, 2],            # a gap of exactly GAP stays in session
        [1, 2 * gap_us + 1, 2 * gap_us + 1, 1],
        [2, 5, 5, 1],
    ]


def test_read_round_has_fixed_mix_and_one_fallback_sql():
    rnd = gen.read_round(gen.rng(2, 5))
    kinds = [k for k, _ in rnd]
    assert sorted(kinds) == sorted(gen.READ_ROUND)
    years = [arg[1] for k, arg in rnd if k == "sql"]
    assert sum(y not in gen.PROVABLE_YEARS for y in years) == 1
