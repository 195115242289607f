"""The order-balanced paired A/B loop (``bench.paired_ab``) driven by
fake legs that record their call order and return fixed times — no
Spark. A fixed (base, head) order hands head the hot-adjacency slot on
every pair, which a null test measured at −15…−24% on identical code;
these tests pin the alternation that cancels it."""

from __future__ import annotations

import bench

TIMES = {
    "base": {"q1": [2.0, 4.0, 2.0, 5.0], "q2": [1.0, 1.0, 1.0, 1.0]},
    "head": {"q1": [1.0, 5.0, 3.0, 4.0], "q2": [2.0, 0.8, 1.0, 1.5]},
}


def _run(pairs: int = 4):
    calls: list[tuple[str, str]] = []

    def registry(side: str) -> dict:
        def entry(name: str):
            def fn() -> float:
                i = calls.count((side, name))  # this side's pair index
                calls.append((side, name))
                return TIMES[side][name][i]

            return fn

        return {n: entry(n) for n in TIMES[side]}

    out = bench.paired_ab(
        registry("base"), registry("head"), ["q1", "q2"], pairs, lambda fn: fn()
    )
    return calls, out


def test_both_legs_of_a_query_run_back_to_back():
    calls, _ = _run()
    assert len(calls) == 2 * 2 * 4
    for first, second in zip(calls[0::2], calls[1::2]):
        assert first[1] == second[1]
        assert {first[0], second[0]} == {"base", "head"}


def test_first_side_alternates_per_pair():
    calls, _ = _run()
    first_sides = [side for side, _ in calls[0::2]]  # one per (pair, query)
    assert first_sides == ["base", "base", "head", "head"] * 2


def test_deltas_match_hand_computation():
    _, out = _run()
    # q1 per pair: (1-2)/2, (5-4)/4, (3-2)/2, (4-5)/5 = -50, 25, 50, -20
    # q2 per pair: (2-1)/1, (0.8-1)/1, (1-1)/1, (1.5-1)/1 = 100, -20, 0, 50
    assert out["paired_detail"]["q1"]["delta_pct_pairs"] == [-50.0, 25.0, 50.0, -20.0]
    assert out["paired_detail"]["q2"]["delta_pct_pairs"] == [100.0, -20.0, 0.0, 50.0]
    assert out["paired_delta_pct"] == {"q1": 2.5, "q2": 25.0}  # median of 4
    # min-vs-min: q1 (1-2)/2, q2 (0.8-1)/1
    assert out["min_delta_pct"] == {"q1": -50.0, "q2": -20.0}
    assert out["paired_detail"]["q1"]["base_s"] == TIMES["base"]["q1"]
    assert out["paired_detail"]["q1"]["head_s"] == TIMES["head"]["q1"]


def test_block_delta_cancels_the_second_slot():
    # identical code on both sides; whichever leg runs second in a
    # pair is 25% faster (warm codegen / page cache)
    calls: list[str] = []

    def registry(side: str) -> dict:
        def fn() -> float:
            second = len(calls) % 2 == 1
            calls.append(side)
            return 0.75 if second else 1.0

        return {"q": fn}

    out = bench.paired_ab(registry("base"), registry("head"), ["q"], 4, lambda fn: fn())
    assert out["paired_detail"]["q"]["delta_pct_pairs"] == [-25.0, 33.3, -25.0, 33.3]
    assert out["paired_delta_pct"]["q"] != 0.0  # the per-pair median reads the slot
    assert out["block_delta_pct"]["q"] == 0.0
    assert out["block_ci90_pct"]["q"] == [0.0, 0.0]


def test_block_delta_hand_computation_and_odd_pairs():
    # q1 log-ratios per pair: ln(1/2), ln(5/4), ln(3/2), ln(4/5)
    # blocks: ½(ln .5 + ln 1.25) → −20.9%, ½(ln 1.5 + ln .8) → +9.5%
    _, out = _run()
    # median of two blocks = their mean log-ratio → −6.9%
    assert out["block_delta_pct"]["q1"] == -6.9
    lo, hi = out["block_ci90_pct"]["q1"]
    assert lo == -20.9 and hi == 9.5
    # an odd pair count drops the last pair from the blocks
    _, out3 = _run(pairs=3)
    assert out3["block_delta_pct"]["q1"] == -20.9
    assert out3["block_ci90_pct"]["q1"] == [-20.9, -20.9]
