"""The driver checks only the first WINDOW registry entries each round,
so registry order decides which faces get fresh oracle evidence. The
order is derived from the committed CORRECTNESS_r<N>.json files by
``plans.driver_order``; these tests pin that rule and the live
evidence health."""

import json
from pathlib import Path

import pytest

from pythondataingestionprocess_spark.plans import (
    MAX_EVIDENCE_AGE, MAX_FACES, REGISTRY, TOUCHED, WINDOW,
    driver_order, evidence_state, load_evidence,
)

ROOT = Path(__file__).resolve().parents[1]
LIVE = load_evidence(ROOT)
OK = {"rows_match": True, "hash_match": True, "err": None}
BAD = {"rows_match": True, "hash_match": False, "err": None}

# Names retired from the registry; they must not silently come back.
RETIRED = (
    "funnel_view_to_purchase", "window_lag_lead", "window_rank_dense",
    "intersect_all_slices", "except_all_slices", "doc_packing_shard_histogram",
    "clean_excel_serial_date", "embedding_norms", "margin_defaults",
    "first_match_pick", "json_extract_props", "histogram_quantity",
    "text_token_count", "topk_per_group_agg", "doc_packing_lookahead",
    "text_bpe_merge_learn",
)


def test_first_50_is_the_intended_rotation():
    assert list(REGISTRY) == driver_order(list(REGISTRY), LIVE, TOUCHED)


def test_touched_faces_ride_this_window():
    window = list(REGISTRY)[:WINDOW]
    assert TOUCHED[0] == LIVE[-1][0], "TOUCHED names a round that is not the newest"
    assert all(n in window for n in TOUCHED[1])


def test_stalest_queries_front_loaded():
    last_green, failed = evidence_state(LIVE)
    names = list(REGISTRY)
    front = [n for n in names if n in failed or n not in last_green]
    front += [n for n in TOUCHED[1] if n not in front]
    assert names[: len(front)] == front
    ages = [(last_green[n], n) for n in names[len(front):]]
    assert ages == sorted(ages)


def test_green_r10_clears_failed_r2(tmp_path):
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": BAD, "b": OK}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"a": OK, "c": BAD}))
    evidence = load_evidence(tmp_path)
    assert [r for r, _ in evidence] == [2, 10]
    order = driver_order(["a", "b", "c", "d"], evidence[::-1], (2, ("b",)))
    assert order == ["c", "d", "b", "a"]


def test_rejects_bad_evidence_filename(tmp_path):
    (tmp_path / "CORRECTNESS_r3_rerun.json").write_text("{}")
    with pytest.raises(ValueError, match="not a CORRECTNESS"):
        load_evidence(tmp_path)


def test_touched_list_expires_with_a_newer_round():
    evidence = [(1, {"a": OK, "b": OK}), (2, {"b": OK})]
    assert driver_order(["a", "b"], evidence, (2, ("b",))) == ["b", "a"]
    assert driver_order(["a", "b"], evidence, (1, ("b",))) == ["a", "b"]
    with pytest.raises(ValueError, match="not registered"):
        driver_order(["a", "b"], evidence, (2, ("zz",)))


def test_live_evidence_is_healthy():
    last_green, failed = evidence_state(LIVE)
    newest = LIVE[-1][0]
    assert not [n for n in REGISTRY if n in failed]
    assert not [n for n in REGISTRY if n not in last_green]
    overdue = [n for n in REGISTRY if newest - last_green[n] > MAX_EVIDENCE_AGE]
    assert not overdue, f"evidence older than {MAX_EVIDENCE_AGE} rounds: {overdue}"


def test_registry_within_capacity_cap():
    assert len(REGISTRY) <= MAX_FACES, "retire faces before registering more"


def test_registry_intact_after_rotation():
    names = list(REGISTRY)[::-1]
    assert sorted(driver_order(names, LIVE, TOUCHED)) == sorted(names)
    assert len(names) >= WINDOW


def test_retired_queries_stay_retired():
    assert not [n for n in RETIRED if n in REGISTRY]
