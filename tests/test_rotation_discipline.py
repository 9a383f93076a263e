"""Certification-refresh discipline: no registered key's implementation
may drift past its last green driver row without being queued for
re-certification.

`scripts/drift_audit.py` derives, from the CORRECTNESS_r*.json driver
artifacts and the `round N:` snapshot commits, the set of keys whose
registered function block (decorators + oracle SQL included) textually
changed since the round that last certified them.  Every such key —
and every key with no driver row at all — MUST sit in the registry's
_PRIORITY prefix, i.e. inside the driver's 50-key sweep window for the
upcoming round.  This turns the per-round rotation protocol from a
convention into an enforced invariant: editing a certified operator
without queueing its re-certification fails the suite."""

from __future__ import annotations

import glob
import subprocess

import pytest

from mysql_postgres_debezium_cdc_spark.registry import _PRIORITY, all_queries
from scripts.drift_audit import (
    REPO,
    blocks_at,
    latest_green_rounds,
    round_commits,
)


def _git_available() -> bool:
    try:
        subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, check=True
        )
        return True
    except Exception:
        return False


def test_drifted_and_unrowed_keys_are_queued_for_certification():
    if not glob.glob(str(REPO / "CORRECTNESS_r*.json")) or not _git_available():
        pytest.skip("driver artifacts or git history unavailable")

    keys = list(all_queries())
    green = latest_green_rounds()
    commits = round_commits()
    head_blocks = blocks_at(None)
    prefix = set(_PRIORITY[:50])

    offenders: list[str] = []
    deferred: dict[str, int] = {}  # drifted-but-not-queued -> green round
    queued_drift_rounds: list[int] = []
    n_queued_unrowed = 0
    for k in keys:
        if k not in green:  # never certified -> must be queued
            if k not in prefix:
                offenders.append(f"{k} (no driver row, not in prefix)")
            else:
                n_queued_unrowed += 1
            continue
        rnd = green[k]
        if rnd not in commits:
            continue  # artifact round without a snapshot commit yet
        cache = test_drifted_and_unrowed_keys_are_queued_for_certification.__dict__
        if rnd not in cache:
            cache[rnd] = blocks_at(commits[rnd])
        if cache[rnd].get(k) != head_blocks.get(k):
            if k in prefix:
                queued_drift_rounds.append(rnd)
            else:
                deferred[k] = rnd

    # Overflow degradation rule (first hit r12: a round's edits can
    # drift more keys than one 50-slot sweep holds).  Deferral is legal
    # ONLY when (a) every prefix slot is already spent on an unrowed or
    # drifted key — no slot is wasted on a merely-stale cert while a
    # drifted key waits — and (b) the deferred keys are the NEWEST
    # vintage among the drifted (freshest certs carry one round; they
    # head the next rotation).  Anything else is an offender.
    if deferred:
        if len(queued_drift_rounds) + n_queued_unrowed < 50:
            offenders.extend(
                f"{k} (drifted since green row r{rnd}, not in prefix, "
                "prefix has non-drifted slots)"
                for k, rnd in deferred.items()
            )
        else:
            newest_queued = max(queued_drift_rounds) if queued_drift_rounds else -1
            offenders.extend(
                f"{k} (drifted since green row r{rnd}, deferred although "
                f"older than queued vintage r{newest_queued})"
                for k, rnd in deferred.items()
                if rnd < newest_queued
            )

    assert not offenders, (
        "keys edited past their certification without being queued in "
        f"_PRIORITY: {offenders}"
    )


def test_closure_hash_tracks_helpers_and_constants():
    """The r12 drift-audit upgrade: the per-key hash must cover the
    recursive helper/constant closure, not just the registered block —
    this is what catches helper-mediated drift like the winsorized
    report row changing stream_experiment_snapshot's output while the
    twin's own block stayed byte-identical."""
    blocks = blocks_at(None)

    # same-module helper: the streaming twin's closure must contain the
    # shared report builder it delegates to
    snap = blocks["stream_experiment_snapshot"]
    assert "_experiment_report_from_per_user" in snap
    assert "def _experiment_report_from_per_user" in snap

    # cross-module helper: the contamination keys import _shingles from
    # llm.dedup inside their bodies — the closure must resolve it
    cont = blocks["dq_contamination_ngram_overlap"]
    assert "def _shingles" in cont

    # tracked module-level constants: the mSPRT mixture literal and the
    # winsorization percentile ride the closure (comment-insensitive —
    # ast.unparse'd), so silently retuning one would flag every
    # dependent key as drifted
    assert "C:" in blocks["events_effect_msprt"]
    assert "_TAU2_MSPRT" in blocks["events_effect_msprt"]
    assert "WINSOR_PCT" in blocks["events_experiment_winsorized"]

    # r12.2: PUBLIC package helpers ride the closure too — the
    # lsh_signatures vectorization changed two certified keys' physical
    # plan with zero flagged drift under the private-only closure
    # (the documented blind spot).  Same-module reference (ann_lsh_topk)
    # and cross-module import (dedup_embedding_lsh) both resolve now...
    assert "def lsh_signatures" in blocks["ann_lsh_topk"]
    assert "def lsh_signatures" in blocks["dedup_embedding_lsh"]
    # ...while ubiquitous infra stays excluded: `load` is referenced by
    # essentially every key, so including it would flag the whole
    # registry on any loader edit — that breadth is what vintage aging
    # covers (scripts/drift_audit.py _INFRA_NAMES).
    assert "def load" not in blocks["ann_lsh_topk"]

    # Stream/batch twins: a registered key that calls its live job's
    # function (imported by name, which the closure walk follows) carries
    # that function's body, so editing the shared job drifts the key; the
    # SRM trio carries its one shared arm-count builder.
    assert "def tumbling_agg" in blocks["stream_tumbling_window"]
    assert "def _srm_arms" in blocks["stream_srm_monitor"]

    # A same-module call to a registered function carries that function,
    # not the registry: re-splicing _PRIORITY drifts no key.
    overlap = blocks["join_interval_overlap"]
    assert "def events_sessionize_gap" in overlap
    assert "_PRIORITY" not in overlap
