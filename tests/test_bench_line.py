"""bench.py's driver-visible stdout line: always valid JSON, always
under the capture-window budget, for any warm-map size (the r4/r5
blackout was this line outgrowing the driver's ~2000-char tail
capture; ADVICE r6 found the trim loop could NameError on tiny maps
and overflow when it exhausted)."""

from __future__ import annotations

import json

import bench

# the core budget is an input, so the checks hold on any host
CPUS = 8


def _check(warm):
    quality = bench.run_quality(
        (1.23, 1.0, 0.9), (30.0, 20.0, 10.0), warm,
        {n: 0.0 for n in warm}, cpus=CPUS,
    )
    line = bench.final_line(warm, round(sum(warm.values()), 3), 0.1,
                            quality=quality)
    assert len(line) <= bench.LINE_BUDGET, len(line)
    payload = json.loads(line)
    assert payload["unit"] == "sec"
    assert payload["queries_omitted"] == len(warm) - len(payload["queries"])
    assert payload["noisy"] is False  # zero spread + idle start load
    assert payload["load1_start"] == 1.23
    assert quality["cpus"] == CPUS
    return payload


def test_run_quality_flags_contention():
    warm = {f"q{i}": 1.0 for i in range(40)}
    # (a) external load before the run started
    q = bench.run_quality((20.0, 5.0, 2.0), (30.0,) * 3, warm,
                          {n: 0.0 for n in warm}, cpus=CPUS)
    assert q["noisy"] is True and q["noisy_queries"] == []
    # the load threshold scales with the budget passed in, not the host
    idle = {n: 0.0 for n in warm}
    assert bench.run_quality((1.23,) * 3, (1.0,) * 3, warm, idle,
                             cpus=4)["noisy"] is True
    assert bench.run_quality((1.23,) * 3, (1.0,) * 3, warm, idle,
                             cpus=8)["noisy"] is False
    # (b) widespread within-run spread: 5 of 40 queries > 50% spread
    spread = {n: (0.9 if i < 5 else 0.1) for i, n in enumerate(warm)}
    q = bench.run_quality((0.5, 0.5, 0.5), (30.0,) * 3, warm, spread,
                          cpus=CPUS)
    assert q["noisy"] is True and len(q["noisy_queries"]) == 5
    # a couple of noisy queries alone is normal GC wobble, not a flag
    spread = {n: (0.9 if i < 2 else 0.1) for i, n in enumerate(warm)}
    q = bench.run_quality((0.5, 0.5, 0.5), (30.0,) * 3, warm, spread,
                          cpus=CPUS)
    assert q["noisy"] is False and len(q["noisy_queries"]) == 2


def test_empty_and_tiny_maps():
    assert _check({})["queries"] == {}
    assert _check({"q1": 1.234})["queries"] == {"q1": 1.234}


def test_typical_map_keeps_slowest():
    warm = {f"query_name_{i:03d}": round(0.1 * i, 3) for i in range(90)}
    payload = _check(warm)
    kept = payload["queries"]
    assert kept  # something survived
    # kept entries are the most expensive ones
    dropped = set(warm) - set(kept)
    if dropped and kept:
        assert min(kept.values()) >= max(warm[n] for n in dropped)


def test_pathologically_long_names_never_overflow():
    warm = {("x" * 400) + str(i): float(i) for i in range(10)}
    payload = _check(warm)
    # even if every named entry is too wide, the empty map is emitted
    assert isinstance(payload["queries"], dict)
