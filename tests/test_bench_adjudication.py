"""Bench noise self-adjudication (r11 verdict directive #5): the
trigger — drift > 1.25x vs the previous round's record, tagged with
whether the query's defining module changed since that record's commit —
is pure logic in ``bench._adjudication_candidates_tagged``; a
deliberately-noisy synthetic timing set pins exactly which queries get
the isolated min-of-5 re-run."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from bench import (_adjudication_candidates_tagged,
                   _bench_record_paths,
                   _changed_files_since_prev_bench,
                   _query_module_file,
                   _records)


def test_trigger_fires_only_for_drifted_untouched_queries():
    prev = {"q_noisy": 0.40, "q_steady": 0.50, "q_touched": 0.30,
            "q_slight": 1.00, "q_gone": 0.20}
    timings = {"q_noisy": 0.58,    # 1.45x, untouched  -> adjudicate
               "q_steady": 0.51,   # 1.02x             -> no
               "q_touched": 0.60,  # 2.0x but touched  -> no (real work)
               "q_slight": 1.24}   # 1.24x, under gate -> no
    qfiles = {"q_noisy": "realtime_olap_spark/suite/aggs.py",
              "q_steady": "realtime_olap_spark/suite/aggs.py",
              "q_touched": "realtime_olap_spark/suite/text.py",
              "q_slight": "realtime_olap_spark/suite/ext.py"}
    changed = {"realtime_olap_spark/suite/text.py", "bench.py"}
    got = _adjudication_candidates_tagged(timings, prev, changed, qfiles)
    assert got == {"q_noisy": {"prev": 0.40, "touched": False},
                   "q_touched": {"prev": 0.30, "touched": True}}


def test_tagged_trigger_includes_touched_queries():
    """r16 verdict directive #2: drifted queries on TOUCHED modules must
    also get an isolated re-run, tagged touched=True — the exemption used
    to hide exactly the numbers a judge needs. Unknown module paths count
    as touched (can't prove otherwise)."""
    prev = {"q_noisy": 0.40, "q_touched": 0.30, "q_unknown": 0.10,
            "q_steady": 0.50}
    timings = {"q_noisy": 0.58, "q_touched": 0.60, "q_unknown": 0.20,
               "q_steady": 0.51}
    qfiles = {"q_noisy": "realtime_olap_spark/suite/aggs.py",
              "q_touched": "realtime_olap_spark/suite/text.py",
              "q_unknown": None,
              "q_steady": "realtime_olap_spark/suite/aggs.py"}
    changed = {"realtime_olap_spark/suite/text.py"}
    got = _adjudication_candidates_tagged(timings, prev, changed, qfiles)
    assert got == {"q_noisy": {"prev": 0.40, "touched": False},
                   "q_touched": {"prev": 0.30, "touched": True},
                   "q_unknown": {"prev": 0.10, "touched": True}}


def test_bench_record_order_prefers_canonical_round_files():
    """The comparison base must be the newest CANONICAL per-round record
    (BENCH_r<N>.json); variant records like the driver's 8-core
    BENCH_r16_c8.json must never outrank it (a lexical sort did)."""
    paths = _bench_record_paths()
    names = [os.path.basename(p) for p in paths]
    assert names, "repo carries BENCH records"
    import re
    assert re.fullmatch(r"BENCH_r\d+\.json", names[-1]), names[-1]
    canonical = [n for n in names if re.fullmatch(r"BENCH_r\d+\.json", n)]
    rounds = [int(re.match(r"BENCH_r(\d+)", n).group(1)) for n in canonical]
    assert rounds == sorted(rounds)
    if "BENCH_r16_c8.json" in names:
        assert names.index("BENCH_r16_c8.json") \
            < names.index("BENCH_r16.json")


def test_trigger_skips_retired_names_and_tags_unknown_files():
    # a name the current run no longer times is skipped (no rename map:
    # every name in the newest record is current); unknown module paths
    # (None) are conservatively treated as touched
    prev = {"agg_having": 0.10, "q_unknown": 0.10}
    timings = {"agg_topn_having": 0.20, "q_unknown": 0.20}
    qfiles = {"agg_topn_having": "realtime_olap_spark/suite/aggs.py",
              "q_unknown": None}
    got = _adjudication_candidates_tagged(timings, prev, set(), qfiles)
    assert got == {"q_unknown": {"prev": 0.10, "touched": True}}


def test_trigger_boundary_is_strict():
    prev = {"q": 1.0}
    qf = {"q": "f.py"}
    assert _adjudication_candidates_tagged({"q": 1.25}, prev, set(), qf) \
        == {}
    assert _adjudication_candidates_tagged({"q": 1.2501}, prev, set(), qf) \
        == {"q": {"prev": 1.0, "touched": False}}
    # zero/negative prev never divides
    assert _adjudication_candidates_tagged({"q": 9.9}, {"q": 0.0}, set(),
                                           qf) == {}


def test_changed_files_resolves_against_real_history():
    """In this repo BENCH_r*.json records exist and are committed, so
    the changed-file resolver must return a set (never crash), and the
    set contains only repo-relative paths."""
    changed = _changed_files_since_prev_bench()
    assert changed is None or all(not p.startswith("/")
                                  for p in changed)


def test_query_module_file_is_repo_relative():
    from realtime_olap_spark import suite
    fn = suite.QUERIES["flagship_q1"]
    path = _query_module_file(fn)
    assert path is not None and not os.path.isabs(path)
    assert path.startswith("realtime_olap_spark")


def test_high_variance_min_of_five_config():
    """r14 (r13 verdict observation #2): the five historically
    noisiest queries run min-of-5 in the main schedule; the list must
    stay inside the headline set so the extra passes actually run."""
    from bench import HEADLINE, HIGH_VARIANCE, HIGH_VARIANCE_RUNS

    assert set(HIGH_VARIANCE) <= set(HEADLINE)
    assert HIGH_VARIANCE_RUNS == 5
    assert {"mv_all_aggs", "bench_theta_overlap", "bench_funnel",
            "text_doc_features", "agg_topn_having"} == set(HIGH_VARIANCE)


def test_detail_line_records_load_avg():
    """The host load at start and end of a run goes on the detail line
    only; the summary line keeps exactly its keys."""
    query_runs = {"q_a": [0.3, 0.2, 0.25], "q_b": [1.0, 1.1, 0.9, 1.2, 1.0]}
    load = {"start": [1.0, 0.5, 0.25], "end": [2.0, 1.0, 0.5]}
    summary, detail = _records(query_runs, 3, 0.1, load)
    assert list(summary) == [
        "metric", "value", "unit", "queries", "sf",
        "runs_per_query_default", "runs_per_query", "aggregation",
        "schedule"]
    assert summary["value"] == 1.1
    assert summary["queries"] == {"q_a": 0.2, "q_b": 0.9}
    assert summary["runs_per_query"] == {"q_b": 5}
    assert detail["metric"] == "headline_suite_detail"
    assert detail["load_avg"] == load
