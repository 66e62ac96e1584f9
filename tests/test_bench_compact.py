"""bench.py tail line: the one form the driver receives.

_compact_for_tail builds the stdout line from the bench payload:
headline timings in whole seconds (one decimal below 1 s), the
crossover summary with its 5 worst weak cells, and trailing xo20:
cells dropped only while the line is over _TAIL_BUDGET. The payload's
`recorded_tiers` (tools/crossover._all_recorded()) shares its tier
cells BY REFERENCE with the module-global RECORDED_*_TIERS tables, so
the compactor must never mutate the caller's structures (round 5's
`rec |= pop(...)` folded KV tiers into the dedup global in place).
Every payload here carries the live `recorded_tiers`, the form
run_crossover emits. Pure-python tests, no Spark session.
"""

from __future__ import annotations

import copy
import json


def _payload(with_queries: bool) -> dict:
    from tools import crossover as xo_mod

    xo = {
        "R": 20,
        "recorded_tiers": xo_mod._all_recorded(),
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


def _assert_pure_compaction(monkeypatch, with_queries: bool) -> None:
    """Neither the compaction nor the xo20: guard touches the caller's
    payload or the module tables; the tail keeps only the crossover
    summary."""
    import bench
    from tools import crossover as xo_mod

    # force the guard to drop every xo20: cell
    monkeypatch.setattr(bench, "_TAIL_BUDGET", 1)
    payload = _payload(with_queries)
    payload["queries"]["xo20:dup_spans"] = 20.1
    before = copy.deepcopy(payload)
    tables = copy.deepcopy(xo_mod._all_recorded())
    out = bench._compact_for_tail(payload)
    assert payload == before, "caller's payload mutated"
    # the tier cells are shared with the module globals: those must be
    # untouched too
    assert xo_mod._all_recorded() == tables
    assert out["queries"] == {"word_count_top10": 2}
    weak = {"weak": {"word_count_top10": "7.0:o"}, "n_weak_total": 1}
    assert out["crossover"] == {"R": 20, **(weak if with_queries else {})}


def test_compact_does_not_mutate_payload_or_tier_globals(monkeypatch):
    _assert_pure_compaction(monkeypatch, with_queries=True)


def test_shed_without_queries_copies_crossover(monkeypatch):
    """Without per-query crossover cells the guard still works on a
    copy: the caller's crossover dict keeps every key."""
    _assert_pure_compaction(monkeypatch, with_queries=False)


def test_compact_line_fits_tail_budget():
    from bench import _TAIL_BUDGET, _compact_for_tail

    out = _compact_for_tail(_payload(with_queries=True))
    assert len(json.dumps(out, separators=(",", ":"))) <= _TAIL_BUDGET


def test_weak_list_rides_the_tail_and_survives_shedding(monkeypatch):
    """VERDICT r7 item 3: the >2x per-query crossover cells stay in the
    driver-visible tail, which never carries the per-query arrays, and
    the xo20: guard never cuts them."""
    import bench

    payload = _payload(with_queries=True)
    payload["crossover"]["queries"]["fast_query"] = {
        "spark_s": 0.5,
        "duckdb_s": 1.0,
    }
    # 0.784/0.112 = 7.0x is weak; 0.5/1.0 = 0.5x is not. Each weak cell
    # carries its far-tier disposition as a compact string
    # "<r20>><tier>:<far_ratio><class-letter>"; word_count has no
    # recorded far tier, so it reads "<r20>:o" (open).
    for budget in (bench._TAIL_BUDGET, 1):
        monkeypatch.setattr(bench, "_TAIL_BUDGET", budget)
        out = bench._compact_for_tail(payload)
        assert "queries" not in out["crossover"]
        assert out["crossover"]["weak"] == {"word_count_top10": "7.0:o"}


def test_live_recorded_tables_all_popped_and_line_fits():
    """Round 10: the first clean bench of the round printed a
    2784-char line because one recorded table reached the tail. This
    builds the tail payload from the LIVE module globals (the merged
    tables, a full-size headline dict and a live-set-sized crossover
    queries dict) and pins the budget, so the raw tables can never
    reach the driver again."""
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
        "recorded_tiers": xo_mod._all_recorded(),
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


def test_xo_scaling_cells_shed_last():
    """Round 13 (VERDICT r12 item 8): the xo20: scaling cells are the
    driver's only tail channel for the c8/c32 comparison. When the line
    overflows they are the one thing cut, from the end and one at a
    time, never wholesale; every headline timing stays."""
    from bench import _TAIL_BUDGET, _compact_for_tail

    payload = _payload(with_queries=True)
    payload["queries"] = {f"query_name_padding_{i:03d}": 1.0 for i in range(62)}
    xo_all = [
        f"xo20:{q}"
        for q in ("dup_spans", "minhash_lsh_exact", "copurchase_triangles")
    ]
    for k in xo_all:
        payload["queries"][k] = 12.3
    out = _compact_for_tail(payload)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= _TAIL_BUDGET
    kept = [k for k in out["queries"] if k.startswith("xo20:")]
    assert 1 <= len(kept) < len(xo_all)
    assert kept == xo_all[: len(kept)]
    assert len(out["queries"]) == 62 + len(kept)


def test_integer_shed_keeps_sub_second_cells():
    """Headline timings print in whole seconds but keep one decimal
    below 1 s, so a 0.4 s cell does not round to 0 (which reads as
    dropped_from_bench), and the line still fits the real budget."""
    import bench

    payload = _payload(with_queries=True)
    payload["queries"] = {f"q{i:02d}_headline_query_name": 1.2345 for i in range(58)}
    payload["queries"]["fast_cell"] = 0.4
    out = bench._compact_for_tail(payload)
    line = json.dumps(out, separators=(",", ":"))
    assert len(line) <= bench._TAIL_BUDGET
    assert all(
        isinstance(v, int) for k, v in out["queries"].items() if k.startswith("q")
    )
    assert out["queries"]["fast_cell"] == 0.4


_XO_SCALING = ("dup_spans", "minhash_lsh_exact", "copurchase_triangles", "bigram_pmi")


def _driver_payload() -> tuple[dict, dict]:
    """A payload of the size bench.main builds on a driver run: every
    HEADLINE timing, the four xo20: scaling cells, every DEFAULT_QUERIES
    crossover cell (eight of them more than 2x, each with a
    recorded far tier) and the live
    `recorded_tiers`. Returns it with the {name: ratio} of its weak
    cells."""
    import bench
    from tools import crossover as xo_mod

    queries = {
        name: round(1.0 + (i % 13) * 1.917, 3)
        for i, name in enumerate(bench.HEADLINE)
    }
    # 0.44 stays 0.4; 0.96 and 1.46 round to 1.0 and 1.5 before the
    # integer step, so they print 1 and 2
    queries.update(top_orders=0.44, user_sessions=0.96, lang_id=1.46)
    queries.update(
        {f"xo20:{q}": 10.0 + 3.3 * i for i, q in enumerate(_XO_SCALING)}
    )
    # weak cells with a recorded far tier print the long disposition
    # form, as on the driver's runs
    far = [
        n for n in xo_mod.DEFAULT_QUERIES
        if xo_mod.weak_disposition(n, 3.0)[0] != "-"
    ]
    ratios = {name: 2.3 + 1.9 * ((3 * i) % 8) for i, name in enumerate(far[:8])}
    xq = {
        name: {"spark_s": round(4.0 * ratios.get(name, 0.7), 3), "duckdb_s": 4.0}
        for name in xo_mod.DEFAULT_QUERIES
    }
    payload = {
        "metric": "headline_queries_total",
        "value": 164.549,
        "unit": "sec",
        "shared_prev_total": 160.748,
        "queries": queries,
        "sf": 0.1,
        "crossover": {
            "R": 20,
            "rows": {t: 12_000_000 for t in ("documents", "events", "orders", "lineitem")},
            "queries": xq,
            "spark_total_s": 157.729,
            "duckdb_total_s": 209.075,
            "spark_over_duckdb": 0.754,
            "recorded_tiers": xo_mod._all_recorded(),
        },
    }
    return payload, ratios


def test_driver_sized_payload_prints_the_driver_form():
    """A driver-sized payload prints the form every driver record since
    round 9 holds: integer timings (one decimal below 1 s), no per-query
    crossover arrays, the 5 worst weak cells, and xo20: cells dropped
    only from the end, only while the line is over budget."""
    import bench

    payload, ratios = _driver_payload()
    out = bench._compact_for_tail(payload)
    assert len(json.dumps(out, separators=(",", ":"))) <= bench._TAIL_BUDGET

    q = out["queries"]
    assert (q["top_orders"], q["user_sessions"], q["lang_id"]) == (0.4, 1, 2)
    for k, v in q.items():
        if payload["queries"][k] >= 1:
            assert isinstance(v, int), (k, v)
        else:
            assert v == round(payload["queries"][k], 1), (k, v)

    xo = out["crossover"]
    assert list(xo) == [
        "R", "spark_total_s", "duckdb_total_s", "spark_over_duckdb",
        "weak", "n_weak_total",
    ]
    worst = sorted(ratios, key=lambda k: -round(ratios[k], 1))[:5]
    assert list(xo["weak"]) == worst
    for name, cell in xo["weak"].items():
        assert cell.split(">")[0].split(":")[0] == str(round(ratios[name], 1))
    assert xo["n_weak_total"] == len(ratios)

    xo_all = [f"xo20:{c}" for c in _XO_SCALING]
    kept = [k for k in q if k.startswith("xo20:")]
    assert kept == xo_all[: len(kept)]
    assert list(q)[: -len(kept) or None] == [
        k for k in payload["queries"] if not k.startswith("xo20:")
    ]
    if len(kept) < len(xo_all):
        # the guard stops as soon as the line fits: one more cell back
        # would overflow
        nxt = xo_all[len(kept)]
        back = dict(out, queries={**q, nxt: int(payload["queries"][nxt])})
        assert len(json.dumps(back, separators=(",", ":"))) > bench._TAIL_BUDGET
