"""Gate-rotation ledger invariants (VERDICT r7 item 7).

The driver's correctness gate holds at most 50 slots per round; slots
rotate so every registered query eventually gets an independent driver
rows+schema+hash row. GATE_LEDGER records which rounds each query held a
slot. These tests make the rotation computable (and auditable) from the
repo alone:

  (a) ledger keys == REGISTRY keys, and every query has held >= 1 slot
      (the round-8 rotation cleared the never-gated backlog);
  (b) a query's ledger contains the CURRENT round iff it is GATED —
      so GATED ∪ {rotated-out} == REGISTRY with no orphans;
  (c) past rounds match the committed CORRECTNESS_r*.json driver
      artifacts exactly (no aspirational history);
  (d) since round 9 the ledger module is GENERATED
      (scripts/gen_gate_ledger.py) — the committed module must
      regenerate byte-identically, so the derivation IS the record.
"""

from __future__ import annotations

import json
import os

import pytest

from petasearch_spark.registry import (
    CURRENT_ROUND,
    GATE_LEDGER,
    GATED,
    REGISTRY,
    UNGATED,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _committed_artifact_rounds() -> dict[int, set[str]]:
    import glob
    import re

    rounds: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as fh:
                rounds[int(m.group(1))] = set(json.load(fh))
    return rounds


def test_current_round_anchor_in_step_with_artifacts():
    """registry.CURRENT_ROUND is an explicit constant (ADVICE r9: round
    inference from artifact files broke at every round boundary). The two
    legal states: mid-round (newest artifact is CURRENT_ROUND-1) and
    driver-artifact-just-landed (newest is CURRENT_ROUND and its key set
    equals the live GATED list — i.e. no rotation edit has happened since
    without a bump)."""
    rounds = _committed_artifact_rounds()
    newest = max(rounds)
    assert newest in (CURRENT_ROUND - 1, CURRENT_ROUND), (
        f"newest committed artifact is r{newest} but registry.CURRENT_ROUND"
        f" is {CURRENT_ROUND} — bump it as part of the round-open rotation"
    )
    if newest == CURRENT_ROUND:
        assert rounds[newest] == set(GATED), (
            "the current round's driver artifact has landed but GATED was"
            " edited afterwards — bump registry.CURRENT_ROUND before rotating"
        )


def test_ledger_covers_registry_exactly():
    from petasearch_spark.registry import PENDING_FIRST_GATE

    assert set(GATE_LEDGER) == set(REGISTRY)
    never = [k for k, rounds in GATE_LEDGER.items() if not rounds]
    # queries registered after the current round's rotation settled are
    # the only permitted never-gated names, and they must be explicitly
    # queued for the next rotation
    assert set(never) <= set(PENDING_FIRST_GATE), (
        f"queries with no lifetime gate slot and no PENDING_FIRST_GATE entry: "
        f"{sorted(set(never) - set(PENDING_FIRST_GATE))}"
    )
    for name, added_round in PENDING_FIRST_GATE.items():
        assert name in REGISTRY
        assert added_round >= CURRENT_ROUND, (
            f"{name} was queued in round {added_round} but never rotated in "
            f"by round {CURRENT_ROUND} — PENDING_FIRST_GATE debts are due at "
            f"the next rotation"
        )


def test_ledger_current_round_matches_gated():
    for name, rounds in GATE_LEDGER.items():
        if name in GATED:
            assert CURRENT_ROUND in rounds, f"{name} gated but not in ledger r{CURRENT_ROUND}"
        else:
            assert CURRENT_ROUND not in rounds, f"{name} ungated but ledger claims r{CURRENT_ROUND}"
    assert set(GATED) | set(UNGATED) == set(REGISTRY)
    assert not set(GATED) & set(UNGATED)


def test_ledger_rounds_sorted_and_in_range():
    for name, rounds in GATE_LEDGER.items():
        assert rounds == sorted(rounds), name
        assert len(set(rounds)) == len(rounds), name
        assert all(1 <= r <= CURRENT_ROUND for r in rounds), name


@pytest.mark.parametrize("round_no", range(1, CURRENT_ROUND))
def test_ledger_matches_committed_driver_artifacts(round_no):
    path = os.path.join(REPO, f"CORRECTNESS_r{round_no:02d}.json")
    if not os.path.exists(path):
        pytest.skip(f"driver artifact for round {round_no} not committed")
    with open(path) as fh:
        driver_keys = set(json.load(fh))
    ledger_keys = {k for k, rounds in GATE_LEDGER.items() if round_no in rounds}
    assert ledger_keys == driver_keys, (
        f"round {round_no}: ledger∖driver={sorted(ledger_keys - driver_keys)}"
        f" driver∖ledger={sorted(driver_keys - ledger_keys)}"
    )


def test_flagship_search_family_stays_gated():
    for name in ("protein_search", "protein_search_masked", "protein_prefilter"):
        assert name in GATED, f"flagship {name} must keep its gate slot"


def test_ledger_module_regenerates_byte_identical():
    """VERDICT r8 item 5: the ledger is derived, not hand-maintained — a
    rotation edit in registry.py without a gen_gate_ledger.py rerun (or a
    hand edit of the generated module) fails here, not in the audit."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_gate_ledger", os.path.join(REPO, "scripts", "gen_gate_ledger.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(os.path.join(REPO, "petasearch_spark", "gate_ledger.py")) as fh:
        committed = fh.read()
    assert committed == gen.generate(), (
        "petasearch_spark/gate_ledger.py is stale — rerun scripts/gen_gate_ledger.py"
    )


def _load_generator():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gen_gate_ledger", os.path.join(REPO, "scripts", "gen_gate_ledger.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen


def test_regen_stays_byte_identical_when_driver_artifact_lands():
    """VERDICT r9 item 1: the round boundary must be green. Simulate the
    driver writing CORRECTNESS_r{CURRENT_ROUND}.json (its key set equals
    GATED by construction — the driver reads the gate from the registry)
    and assert the regeneration is STILL byte-identical to the committed
    module, i.e. the suite does not flip red when the artifact lands."""
    gen = _load_generator()
    real = gen.committed_rounds()
    assert CURRENT_ROUND not in real or real[CURRENT_ROUND] == set(GATED)
    boundary = dict(real)
    boundary[CURRENT_ROUND] = set(GATED)
    gen.committed_rounds = lambda: boundary
    with open(os.path.join(REPO, "petasearch_spark", "gate_ledger.py")) as fh:
        committed = fh.read()
    assert gen.generate() == committed, (
        "a freshly-landed driver artifact changed the ledger derivation —"
        " the round boundary would open red"
    )


@pytest.mark.parametrize("landed", ["rotated_after_landing", "next_round_landed"])
def test_regen_fails_loudly_on_unbumped_rotation(landed):
    """The generator must refuse, naming CURRENT_ROUND, in both states the
    constant can lag the artifacts: a rotation edit after the current
    round's artifact landed but before the bump (ADVICE r9 medium), and
    the driver's NEXT round artifact landing (its key set equal to GATED)
    before the bump — the state that opened round 11 red."""
    gen = _load_generator()
    boundary = dict(gen.committed_rounds())
    if landed == "rotated_after_landing":
        boundary[CURRENT_ROUND] = set(GATED) ^ {"q1_pricing_summary"}
    else:
        boundary[CURRENT_ROUND + 1] = set(GATED)
    gen.committed_rounds = lambda: boundary
    with pytest.raises(SystemExit, match="CURRENT_ROUND"):
        gen.generate()
