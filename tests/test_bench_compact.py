"""bench.py tail-compaction purity (ADVICE r5).

_compact_for_tail receives a crossover payload whose `recorded_tiers`
(tools/crossover._all_recorded()) shares its tier cells BY REFERENCE
with the module-global RECORDED_*_TIERS tables; the compactor and its
shed loop must never mutate the caller's structures — round 5's
`rec |= pop(...)` folded KV tiers into the dedup global in place, and
the shed path popped keys off the original crossover dict when
'queries' was absent. Every payload here carries the live
`recorded_tiers` + `recorded_echo`, the form run_crossover emits.
Pure-python tests, no Spark session.
"""

from __future__ import annotations

import copy
import json


def _recorded() -> dict:
    """The recorded-tier keys of a run_crossover payload, from the live
    tables."""
    from tools import crossover as xo_mod

    return {
        "recorded_tiers": xo_mod._all_recorded(),
        "recorded_echo": xo_mod._recorded_echo(),
    }


def _echo_tail(echo: dict) -> dict:
    """The echo as the tail prints it: [spark_s, duckdb_s] at 2 decimals."""
    return {
        fam: {t: [round(a, 2), round(b, 2)] for t, (a, b) in tiers.items()}
        for fam, tiers in echo.items()
    }


def _payload(with_queries: bool) -> dict:
    xo = {
        "R": 20,
        **_recorded(),
        "rows": {"word_count_top10": 123},
    }
    if with_queries:
        xo["queries"] = {
            "word_count_top10": {"spark_s": 0.784, "duckdb_s": 0.112}
        }
    return {
        "metric": "headline_queries_total",
        "value": 43.375,
        "unit": "sec",
        "queries": {"word_count_top10": 2.468},
        "sf": 0.1,
        "crossover": xo,
    }


def test_compact_does_not_mutate_payload_or_tier_globals():
    from bench import _compact_for_tail
    from tools import crossover as xo_mod

    payload = _payload(with_queries=True)
    before = copy.deepcopy(payload)
    tables = copy.deepcopy(xo_mod._all_recorded())
    out = _compact_for_tail(payload)
    assert payload == before, "caller's payload mutated"
    # the tier cells are shared with the module globals: those must be
    # untouched too
    assert xo_mod._all_recorded() == tables
    assert "recorded_tiers" not in out["crossover"]
    assert out["crossover"]["recorded"] == _echo_tail(xo_mod._recorded_echo())
    assert out["crossover"]["queries"]["word_count_top10"] == [0.78, 0.11]


def test_shed_without_queries_copies_crossover():
    import bench

    payload = _payload(with_queries=False)
    before = copy.deepcopy(payload)
    # force shedding: shrink the budget so every optional section drops
    saved = bench._TAIL_BUDGET
    bench._TAIL_BUDGET = 1
    try:
        out = bench._compact_for_tail(payload)
    finally:
        bench._TAIL_BUDGET = saved
    assert payload == before, "shed loop mutated the caller's crossover"
    for k in ("rows", "recorded", "queries"):
        assert k not in out["crossover"]


def test_compact_line_fits_tail_budget():
    from bench import _TAIL_BUDGET, _compact_for_tail

    out = _compact_for_tail(_payload(with_queries=True))
    assert len(json.dumps(out, separators=(",", ":"))) <= _TAIL_BUDGET


def test_weak_list_rides_the_tail_and_survives_shedding():
    """VERDICT r7 item 3: the >2x per-query crossover cells must stay in
    the driver-visible tail even after the full per-query arrays are
    shed for size."""
    import bench

    payload = _payload(with_queries=True)
    payload["crossover"]["queries"]["fast_query"] = {
        "spark_s": 0.5,
        "duckdb_s": 1.0,
    }
    out = bench._compact_for_tail(payload)
    # 0.784/0.112 = 7.0x is weak; 0.5/1.0 = 0.5x is not. Round 12:
    # each weak cell now carries its far-tier disposition as a compact
    # string "<r20>><tier>:<far_ratio><class-letter>"; word_count has
    # no recorded far tier, so it reads "<r20>:o" (open).
    assert out["crossover"]["weak"] == {"word_count_top10": "7.0:o"}

    saved = bench._TAIL_BUDGET
    bench._TAIL_BUDGET = 1
    try:
        out = bench._compact_for_tail(payload)
    finally:
        bench._TAIL_BUDGET = saved
    assert "queries" not in out["crossover"]
    assert out["crossover"]["weak"] == {"word_count_top10": "7.0:o"}


def test_fine_shed_stages_keep_recorded_echo():
    """Round 8: when the line is modestly over budget, the weak cap and
    integer headline timings shed BEFORE the recorded echo is dropped
    wholesale."""
    import json

    import bench

    payload = _payload(with_queries=True)
    payload["queries"] = {f"q{i:02d}_long_name": 1.2345 for i in range(50)}
    payload["crossover"]["queries"].update(
        {f"weak{i}": {"spark_s": 9.0, "duckdb_s": 1.0} for i in range(14)}
    )
    payload["crossover"]["recorded_echo"] = {
        "dup_spans": {"R50": [59.7, 270.2]}
    }
    saved = bench._TAIL_BUDGET
    # budget forces the fine stages but is generous enough to keep the
    # recorded echo once they've fired
    bench._TAIL_BUDGET = 1250
    try:
        out = bench._compact_for_tail(payload)
    finally:
        bench._TAIL_BUDGET = saved
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= 1250
    assert out["crossover"]["recorded"] == {"dup_spans": {"R50": [59.7, 270.2]}}
    assert len(out["crossover"]["weak"]) == 10
    assert all(isinstance(v, int) for v in out["queries"].values())
    # caller untouched (the ADVICE r5 purity rule)
    assert all(isinstance(v, float) for v in payload["queries"].values())


def test_recorded_echo_takes_precedence_and_fits():
    """Round 6: the curated `recorded_echo` subset (not the full tier
    tables) rides stdout next to a 40-query headline, and the line
    still fits the tail budget."""
    import json

    from bench import _TAIL_BUDGET, _compact_for_tail

    payload = {
        "metric": "headline_queries_total",
        "value": 99.1,
        "unit": "sec",
        "queries": {f"query_name_{i}": 1.2345 for i in range(40)},
        "sf": 0.1,
        "crossover": {
            "R": 20,
            "rows": {"documents": 100000, "events": 2000000,
                     "orders": 3000000, "lineitem": 12000000},
            "queries": {
                f"crossover_query_{i}": {"spark_s": 1.234, "duckdb_s": 2.345}
                for i in range(19)
            },
            "spark_total_s": 83.474,
            "duckdb_total_s": 92.332,
            "spark_over_duckdb": 0.904,
            **_recorded(),
        },
    }
    c = _compact_for_tail(payload)
    line = json.dumps(c, separators=(",", ":"))
    assert len(line) <= _TAIL_BUDGET
    # the echo subset is what rides stdout — not the full tables
    assert "recorded_tiers" not in c["crossover"]
    assert c["crossover"]["recorded"] == _echo_tail(
        payload["crossover"]["recorded_echo"]
    )
    # original payload untouched (ADVICE r5 regression)
    assert "recorded_echo" in payload["crossover"]
    assert "recorded_tiers" in payload["crossover"]


def test_live_recorded_tables_all_popped_and_line_fits():
    """Round 10: the first clean bench of the round printed a
    2784-char line because one recorded table was missing from a
    ten-key pop list. Every recorded table now rides under the one
    `recorded_tiers` key. This builds the tail payload from the LIVE
    module globals (the merged tables, the real recorded_echo, a
    full-size headline dict and a live-set-sized crossover queries
    dict) and pins the budget, so the raw tables can never reach the
    driver again."""
    import bench
    from tools import crossover as xo_mod

    xo = {
        "R": 20,
        "rows": {t: 12_000_000 for t in ("documents", "events", "orders", "lineitem")},
        "queries": {
            name: {"spark_s": 12.345, "duckdb_s": 3.456}
            for name in xo_mod.DEFAULT_QUERIES
        },
        "spark_total_s": 137.534,
        "duckdb_total_s": 157.962,
        "spark_over_duckdb": 0.871,
        **_recorded(),
    }
    payload = {
        "metric": "headline_queries_total",
        "value": 164.549,
        "unit": "sec",
        "shared_prev_total": 160.748,
        "queries": {name: 9.876 for name in bench.HEADLINE},
        "sf": 0.1,
        "crossover": xo,
    }
    out = bench._compact_for_tail(payload)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench._TAIL_BUDGET, len(line)
    # the raw recorded tables never survive into the tail
    assert "recorded_tiers" not in out["crossover"]


def test_recorded_trim_keeps_head_families(spark=None):
    """Round 10: when the full echo does not fit, families shed from
    the END — the head (current round's stories) must survive on the
    tail rather than the whole section vanishing."""
    import bench
    from tools import crossover as xo_mod

    xo = {
        "R": 20,
        "queries": {
            name: {"spark_s": 12.345, "duckdb_s": 3.456}
            for name in xo_mod.DEFAULT_QUERIES
        },
        "spark_total_s": 1.0,
        "duckdb_total_s": 1.0,
        "spark_over_duckdb": 1.0,
        **_recorded(),
    }
    payload = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "unit": "sec",
        "queries": {name: 9.876 for name in bench.HEADLINE},
        "sf": 0.1,
        "crossover": xo,
    }
    first_family = next(iter(xo_mod.RECORDED_ECHO_KEYS))
    out = bench._compact_for_tail(payload)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench._TAIL_BUDGET, len(line)
    rec = out.get("crossover", {}).get("recorded")
    assert rec, "recorded echo vanished wholesale — trim stage bypassed"
    assert first_family in rec


def test_xo_scaling_cells_shed_last():
    """Round 13 (VERDICT r12 item 8): the xo20: scaling cells are the
    driver's only tail channel for the c8/c32 comparison — when the
    line overflows they shed AFTER the recorded echo, and one at a
    time, never wholesale."""
    from bench import _TAIL_BUDGET, _compact_for_tail

    payload = _payload(with_queries=True)
    # inflate: many headline timings + the xo cells
    payload["queries"] = {f"query_name_padding_{i:03d}": 1.0 for i in range(55)}
    for q in ("dup_spans", "minhash_lsh_exact", "copurchase_triangles"):
        payload["queries"][f"xo20:{q}"] = 12.3
    out = _compact_for_tail(payload)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= _TAIL_BUDGET
    kept = [k for k in out["queries"] if k.startswith("xo20:")]
    # the fixture line fits without dropping every xo cell; at least
    # one must survive, and the recorded echo must already be gone
    # before any xo cell is sacrificed
    if len(kept) < 3:
        assert "recorded" not in out.get("crossover", {})


def test_integer_shed_keeps_sub_second_cells():
    """The integer-timing shed stage keeps one decimal below 1 s, so a
    0.4 s cell does not round to 0 (which reads as dropped_from_bench),
    and the line still fits the real budget."""
    import bench

    payload = _payload(with_queries=True)
    payload["queries"] = {f"q{i:02d}_headline_query_name": 1.2345 for i in range(58)}
    payload["queries"]["fast_cell"] = 0.4
    out = bench._compact_for_tail(payload)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench._TAIL_BUDGET
    # the shed reached the integer stage: every >= 1 s cell is an int
    assert all(
        isinstance(v, int) for k, v in out["queries"].items() if k.startswith("q")
    )
    assert out["queries"]["fast_cell"] == 0.4


def test_every_echo_key_resolves_to_a_recorded_cell():
    """A mistyped RECORDED_ECHO_KEYS family or tier would silently echo
    [null, null]: every echoed (family, tier) must name a recorded cell
    with a numeric spark_s."""
    from tools import crossover as xo_mod

    tables = xo_mod._all_recorded()
    for fam, tiers in xo_mod.RECORDED_ECHO_KEYS.items():
        for t in tiers:
            cell = tables.get(fam, {}).get(t)
            assert cell is not None, (fam, t)
            assert isinstance(cell.get("spark_s"), (int, float)), (fam, t, cell)
