"""The round harness stores only the last ~2000 chars of bench.py stdout and
JSON-parses that tail — round 1's full-detail line (~10 KB) came back
``parsed: null``.  These tests pin the machine-readable contract: the
compact summary line stays under the tail budget with every real query name
included, and keeps the fields a reader needs (per-query walls, throughput,
both scaling efficiencies) while the full detail goes to BENCH_DETAIL.json.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry
from bench import compact_result


def _full_result() -> dict:
    qnames = list(entry.queries())
    sizes = [2, 8, 32]
    sample = {
        "cores": 8,
        "score_wall_s": 20.123,
        "score_wall_cold_s": 36.719,
        "er_wall_s": 100.457,
        "er_wall_cold_s": 145.112,
        "host_probe_at_launch_mb_s": 2084.8,
        "host_probe_mb_s": 2084.8,
        "host_probe_pre_er_mb_s": 16.0,
        "host_probe_mid_er_mb_s": 1995.3,
        "host_probe_post_er_mb_s": 8.5,
        "host_probe_after_mb_s": 14.0,
    }
    return {
        "sf": "0.1",
        "queries": {n: 12.345 for n in qnames},
        "er": {
            "n_docs": 8000,
            "wall_s": 31.491,
            "docs_per_sec": 254.0,
            "kernel_pairs": 11795,
            "stage_wall_s": {"docs": 2.2, "entities": 7.0, "match_edges": 1.6,
                             "token_matches": 16.3, "tokens": 3.7},
            "pairs_per_sec": 3970000,
        },
        "english_dict": {
            "n_terms": 123985, "n_probes": 100,
            "d1_matches": 1234, "d1_wall_s": 12.345,
            "d2_matches": 23456, "d2_wall_s": 23.456,
        },
        "scaling": {
            "cores": sizes,
            "affinity_pinned": True,
            "reps": 3,
            "aggregation": "per-size min over all full-size passes",
            "samples": [dict(sample, cores=c) for c in sizes for _ in range(3)],
            "score_job": {
                "pairs_scored": 24000000,
                "walls_s": {"2": 80.184, "8": 20.046, "32": 6.047},
                "pairs_per_sec": {"2": 299312, "8": 1197246, "32": 3968910},
                "pairs": {"2->8": 1.0, "8->32": 0.829},
                "efficiency": 1.0,
                "headline_pair": "2->8",
            },
            "er_pipeline": {
                "n_docs": 480000,
                "walls_s": {"2": 370.123, "8": 100.457, "32": 60.001},
                "docs_per_sec": {"2": 1297.1, "8": 4778.2, "32": 8000.0},
                "stage_wall_s": {str(c): {"docs": 8.4, "entities": 15.2,
                                          "match_edges": 10.3,
                                          "token_matches": 58.8, "tokens": 7.3}
                                 for c in sizes},
                "pairs": {"2->8": 0.921, "8->32": 0.419},
                "efficiency": 0.921,
                "headline_pair": "2->8",
            },
        },
        "metric": "headline_total",
        "value": 111.925,
        "unit": "sec",
    }


def test_compact_line_fits_tail_budget():
    line = json.dumps(compact_result(_full_result()), separators=(",", ":"))
    assert len(line) <= 1900, f"compact line too long: {len(line)} chars"


def test_compact_keeps_critical_fields_near_end():
    c = compact_result(_full_result())
    line = json.dumps(c, separators=(",", ":"))
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_total" and parsed["unit"] == "sec"
    # every query is accounted for: named in the compact dict, or folded
    # into the "_others" aggregate when the inventory outgrows the budget
    named = set(parsed["queries"]) - {"_others"}
    assert named <= set(entry.queries())
    others = parsed["queries"].get("_others", {"n": 0})
    assert len(named) + others["n"] == len(entry.queries())
    assert parsed["scaling"]["er_pipeline"]["efficiency"] == 0.921
    assert parsed["scaling"]["er_pipeline"]["pairs"]["8->32"] == 0.419
    assert parsed["scaling"]["score_job"]["efficiency"] == 1.0
    assert parsed["scaling"]["score_job"]["pairs"]["8->32"] == 0.829
    # the score job's rate is not an ER figure: it never enters the ER block
    assert "pairs_per_sec" not in parsed["er"]
    # the scaling block + headline must sit in the LAST 1500 chars so even a
    # harness that tails an over-budget line still captures them
    assert line.rindex('"scaling"') >= len(line) - 1500
    # no bulky per-sample probes in the compact line
    assert "host_probe" not in line and "stage_wall_s" not in line


def test_compact_folds_fastest_queries_when_oversized():
    """If the query inventory outgrows the stdout tail budget, the compact
    line folds the FASTEST queries into an "_others" aggregate until it
    fits — the slowest walls stay named, the line stays parseable, and the
    full set stays in BENCH_DETAIL.json."""
    r = _full_result()
    r["queries"] = {
        f"synthetic_query_number_{i:03d}": float(i) for i in range(120)
    }
    c = compact_result(r)
    line = json.dumps(c, separators=(",", ":"))
    assert len(line) <= 1900
    others = c["queries"]["_others"]
    named = set(c["queries"]) - {"_others"}
    assert len(named) + others["n"] == 120
    assert others["detail"] == "BENCH_DETAIL.json"
    # the retained names are exactly the SLOWEST queries
    dropped = {f"synthetic_query_number_{i:03d}" for i in range(others["n"])}
    assert named == set(r["queries"]) - dropped
    assert others["total_s"] == round(sum(range(others["n"])), 1)


def test_compact_survives_missing_optional_sections():
    r = _full_result()
    del r["scaling"]
    del r["english_dict"]
    c = compact_result(r)
    line = json.dumps(c, separators=(",", ":"))
    assert json.loads(line)["value"] == 111.925
    assert "scaling" not in c and "english_dict" not in c
