"""tools/scale_decade.py verdict: a multi-hour decade run whose cells
partly failed or were skipped must still yield a correct verdict."""

from __future__ import annotations

import math

from tools.scale_decade import decade_verdict

NAMES = ["sf10", "sf30", "sf100"]
SIZES = {"sf10": 1_000, "sf30": 3_000, "sf100": 10_000}


def test_missing_scale_keeps_times_under_their_own_scale():
    # doc_a failed at sf30 but ran at sf10 and sf100
    results = {"doc_a": {"sf10": 10.0, "sf100": 100.0}}
    v = decade_verdict(results, SIZES, NAMES)["queries"]["doc_a"]
    assert v["wall_s"] == {"sf10": 10.0, "sf100": 100.0}
    assert v["alphas"] == {"sf10->sf100": 1.0}
    assert v["alpha_overall"] == 1.0


def test_fewer_than_two_cells_gives_null_alphas():
    results = {
        "doc_full": {"sf10": 10.0, "sf30": 20.0, "sf100": 40.0},
        "doc_one": {"sf30": 5.0},
        "doc_none": {},
    }
    verdict = decade_verdict(results, SIZES, NAMES)
    for q in ("doc_one", "doc_none"):
        assert verdict["queries"][q]["alphas"] is None
        assert verdict["queries"][q]["alpha_overall"] is None
    assert verdict["queries"]["doc_one"]["wall_s"] == {"sf30": 5.0}
    full = verdict["queries"]["doc_full"]
    assert full["alphas"] == {
        "sf10->sf30": round(math.log(2) / math.log(3), 2),
        "sf30->sf100": round(math.log(2) / math.log(10 / 3), 2),
    }
    # the worst exponent is taken over the measured queries only
    assert verdict["worst_alpha_overall"] == full["alpha_overall"]
    assert verdict["sublinear_all"] is True


def test_no_measured_query_gives_null_worst():
    verdict = decade_verdict({"doc_one": {"sf10": 1.0}}, SIZES, NAMES)
    assert verdict["worst_alpha_overall"] is None
    assert verdict["sublinear_all"] is None
