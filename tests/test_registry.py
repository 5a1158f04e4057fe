"""Contract-level invariants of the query registry (the full oracle
comparison runs in scratch/verify_local.py / the driver gate)."""

import pytest

from openeo_odc_driver_spark.registry import ORACLE, QUERIES


def test_every_oracle_has_a_query():
    assert set(ORACLE) <= set(QUERIES)


def test_every_query_has_an_oracle():
    """Since round 5 the formerly rows-only queries carry fixed-expected-
    value literal oracles (fixtures/) — the driver has no rows-only tier,
    so an oracle-less entry can never go green."""
    assert set(QUERIES) - set(ORACLE) == set()


@pytest.mark.parametrize("name", ["reduce_time_sweep", "bigram_logprob"])
def test_spot_query_runs_and_matches_oracle(spark, sf_dir, name):
    """End-to-end oracle comparisons inside pytest (cheap smoke of the
    gate machinery itself). The ``bigram_logprob`` oracle builds the
    unigram and bigram models in two corpus passes, so it pins the
    engine's one-pass rollup build."""
    import duckdb
    import pandas as pd

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    ddf = con.execute(ORACLE[name]).df()
    cols = sorted(sdf.columns)
    sdf = sdf[cols].sort_values(cols).reset_index(drop=True)
    ddf = ddf[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(sdf, ddf, check_dtype=False, check_exact=True)


def _staleness_by_query(report_dir, asof):
    """Latest green driver round per query, from CORRECTNESS_r{N}.json
    files with N <= asof. Reports NEWER than the round the priority list
    was regenerated for are ignored — the driver writes its own round's
    report while this tree ships, and counting it would flip the
    stalest-first assert the moment it lands (VERDICT r7 item 1)."""
    import glob
    import json
    import os
    import re

    latest = {}
    for path in sorted(glob.glob(os.path.join(report_dir, "CORRECTNESS_r*.json"))):
        r = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        if r > asof:
            continue
        with open(path) as fh:
            for k, v in json.load(fh).items():
                if v.get("rows_match") and v.get("hash_match"):
                    latest[k] = r
    return latest


def _assert_stalest_first(names, latest):
    never_checked = [n for n in names if n not in latest]
    # every never-checked query precedes every already-green query
    first_green_idx = min(names.index(n) for n in latest if n in names)
    assert all(names.index(n) < first_green_idx or n in latest
               for n in never_checked), (
        f"never-checked queries must lead: {never_checked}"
    )
    # the already-green remainder is ordered stalest-first
    green_rounds = [latest[n] for n in names if n in latest]
    assert green_rounds == sorted(green_rounds)


def test_gate_window_leads_with_unverified_queries():
    """The driver verifies the FIRST ~50 queries() entries per round.
    Every previously registered query has a green row, so the ordering
    contract is: queries with NO driver row as of _GATE_PRIORITY_ASOF
    (this round's additions) lead, and the rest follow stalest-first
    (r02 before r03 before …) — a priority-list edit that demotes a
    never-checked query fails here, not in the round report."""
    import os

    import __spark_entry__ as E

    names = list(E.queries())
    here = os.path.dirname(os.path.abspath(E.__file__))
    latest = _staleness_by_query(here, E._GATE_PRIORITY_ASOF)
    _assert_stalest_first(names, latest)


def test_gate_staleness_survives_future_driver_report(tmp_path):
    """Simulate the round boundary: a CORRECTNESS report NEWER than
    _GATE_PRIORITY_ASOF (the driver's own end-of-round write) must not
    change the staleness derivation. Rounds 6 and 7 both shipped a
    freshness computation that broke exactly when the next report
    landed; this pins the fix for good."""
    import glob
    import json
    import os
    import shutil

    import __spark_entry__ as E

    here = os.path.dirname(os.path.abspath(E.__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path / os.path.basename(path))
    names = list(E.queries())
    baseline = _staleness_by_query(str(tmp_path), E._GATE_PRIORITY_ASOF)
    # a future driver report greens the head of the list — previously
    # this flipped green_rounds out of sorted order
    future = {n: {"rows_match": True, "schema_match": True,
                  "hash_match": True} for n in names[:50]}
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(future))
    latest = _staleness_by_query(str(tmp_path), E._GATE_PRIORITY_ASOF)
    assert latest == baseline
    _assert_stalest_first(names, latest)


def test_gate_recheck_cycle_stays_bounded():
    """VERDICT r11 item 7: with stalest-first ordering and the driver's
    ~50-query window, every registered query is re-verified once per
    ceil(n_queries / window) rounds. At 304 queries that cycle is 7
    rounds — the documented ceiling. Registry growth that would push a
    query's re-check past the ceiling fails HERE, forcing either
    registry restraint (merge near-duplicate gate rows) or an explicit,
    reviewed widening of this bound. The empirical half of the claim is
    checked too: as of _GATE_PRIORITY_ASOF no green query's latest
    driver row may already be older than the cycle implies."""
    import os

    import __spark_entry__ as E

    window = 50          # observed driver gate size, stable r01..r11
    cycle_ceiling = 7    # rounds; raise ONLY with a VERDICT-visible note

    names = list(E.queries())
    cycle = -(-len(names) // window)  # ceil
    assert cycle <= cycle_ceiling, (
        f"{len(names)} registered queries need {cycle} rounds for a full "
        f"re-check at the driver's ~{window}/round window (ceiling "
        f"{cycle_ceiling}); merge gate rows or widen the documented bound"
    )

    here = os.path.dirname(os.path.abspath(E.__file__))
    latest = _staleness_by_query(here, E._GATE_PRIORITY_ASOF)
    # only CURRENTLY REGISTERED queries count: consolidated-away names
    # (e.g. the r13 math sweeps' former per-op rows) keep their historic
    # green rows in old reports, but their coverage now lives in the
    # sweep row that replaced them
    latest = {k: v for k, v in latest.items() if k in set(names)}
    stalest = min(latest.values(), default=E._GATE_PRIORITY_ASOF)
    assert E._GATE_PRIORITY_ASOF - stalest < cycle_ceiling, (
        f"a query's latest green row is r{stalest:02d}, "
        f"{E._GATE_PRIORITY_ASOF - stalest} rounds old as of "
        f"r{E._GATE_PRIORITY_ASOF:02d} — exceeds the {cycle_ceiling}-round "
        f"re-check cycle"
    )
