"""Freshness + cleanliness gate for PLAN_AUDIT.json.

scripts/plan_audit.py captures ``explain('formatted')`` for EVERY
registered query and scans for 100 TB plan anti-patterns (row-at-a-time
Python eval, unexpected nested-loop/cartesian joins).  These tests pin
the committed artifact to the live registry so a new query cannot land
without being re-audited, and pin the audit verdict to zero violations
— the same contract test_docs_counts.py enforces for doc claims.

The audit itself is NOT re-run here (it needs minutes of Spark planning
across the whole registry; the per-query plan *properties* that matter
most are independently pinned live in tests/test_plans.py).
"""

from __future__ import annotations

import json
import os

import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATH = os.path.join(REPO, "PLAN_AUDIT.json")


@pytest.fixture(scope="module")
def audit():
    assert os.path.exists(PATH), "run scripts/plan_audit.py"
    with open(PATH) as f:
        return json.load(f)


def test_audit_covers_exact_registry(audit):
    """Artifact staleness tripwire: adding/removing/renaming a query
    without re-running the audit fails here."""
    assert set(audit["queries"]) == set(all_queries())


def test_audit_zero_violations(audit):
    assert audit["violations"] == [], audit["violations"]


def test_audit_all_plans_captured(audit):
    bad = {n: r for n, r in audit["queries"].items() if r["status"] != "ok"}
    assert not bad, bad


def test_no_row_python_eval_anywhere(audit):
    """The registry-wide form of SURVEY §4's 'UDFs are the slow path':
    zero row-at-a-time Python operators in ANY registered plan (Arrow
    batch operators are allowed and merely counted)."""
    offenders = {
        n: r for n, r in audit["queries"].items()
        if r.get("row_python_udf") or r.get("batch_eval_udtf")
    }
    assert not offenders, offenders


def test_nlj_only_where_semantically_required(audit):
    """Nested-loop/cartesian joins appear only for the declared cross
    join and the 1-row scalar-broadcast form; in particular the range
    joins (theta/interval/asof) must keep their bucketed-equi plans."""
    allow = set(audit["non_equi_allowlist"]) | set(
        audit["scalar_cross_allowlist"]
    )
    for name, r in audit["queries"].items():
        if r.get("bnlj") or r.get("cartesian"):
            assert name in allow, (name, r)
    for name in ("q_join_theta", "q_join_interval_self", "q_join_asof"):
        assert audit["queries"][name]["bnlj"] == 0, name
        assert audit["queries"][name]["cartesian"] == 0, name


def test_allowlists_carry_no_dead_entries(audit):
    """Every allowlisted query actually exhibits the allowed operator —
    dead entries would silently weaken the gate over time."""
    for name in list(audit["non_equi_allowlist"]) + list(
        audit["scalar_cross_allowlist"]
    ):
        r = audit["queries"][name]
        assert r["bnlj"] or r["cartesian"], f"dead allowlist entry: {name}"
