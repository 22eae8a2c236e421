"""Registry-order contract: the driver hash-checks the first 50 queries()
entries per round, so ordering is part of the correctness-verification
surface.

Policy (VERDICT r4 ask #3; artifact-enforced since r6 per VERDICT r5 ask
#8): rotate by witness age.  The window must hold the 50
least-recently-GREEN-witnessed entries, where an entry's witness age is
the newest round whose CORRECTNESS_r0N.json shows it green — hash_match
true, or (rows-only-by-design entries) err == "no_oracle" with
spark_rows recorded.  Never-green entries have age 0 and always lead.
This test recomputes ages from the artifacts in the repo root, so the
rotation policy cannot drift silently.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod
from __spark_entry__ import witness_ages

DRIVER_WINDOW = 50


def test_order_is_recomputable_from_artifacts():
    """WITNESS_ORDER must equal a fresh recompute — it is derived at
    import, so this only fails if someone reintroduces a hard-coded
    list or the compute function loses determinism."""
    assert entry_mod.WITNESS_ORDER == entry_mod.compute_witness_order()


def test_witness_order_is_exact_registry_permutation():
    order = entry_mod.WITNESS_ORDER
    reg = list(entry_mod.queries())
    assert len(order) == len(set(order)), "duplicate names in WITNESS_ORDER"
    assert set(order) == set(reg), (
        f"WITNESS_ORDER out of sync with registry: "
        f"missing={set(reg) - set(order)} stale={set(order) - set(reg)}"
    )
    assert reg == order, "queries() must iterate in WITNESS_ORDER"


def test_window_holds_least_recently_witnessed():
    """No entry outside the window may be strictly staler than one inside.

    Equal ages straddling the boundary are fine (ties broken
    alphabetically by convention, but the driver only cares about the
    set), so the assertion is on the age partition, not the exact order.
    """
    ages = witness_ages()
    reg = list(entry_mod.queries())
    inside, outside = reg[:DRIVER_WINDOW], reg[DRIVER_WINDOW:]
    max_inside = max(ages.get(n, 0) for n in inside)
    min_outside = min(ages.get(n, 0) for n in outside)
    stale_out = [n for n in outside if ages.get(n, 0) < max_inside]
    fresh_in = [n for n in inside if ages.get(n, 0) > min_outside]
    assert min_outside >= max_inside, (
        f"witness rotation drifted: entries outside the window are staler "
        f"than entries inside it — staler-outside={stale_out[:10]} "
        f"fresher-inside={fresh_in[:10]}"
    )


def test_never_witnessed_entries_lead():
    """Entries with no green driver row ever must all sit in the window
    (as long as they fit) — a new operator is not done until witnessed."""
    ages = witness_ages()
    reg = list(entry_mod.queries())
    never = [n for n in reg if ages.get(n, 0) == 0]
    if len(never) <= DRIVER_WINDOW:
        window = set(reg[:DRIVER_WINDOW])
        assert set(never) <= window, set(never) - window


def test_window_rows_only_entries_are_by_design():
    """Inside the window, only the rows-only-by-design entry
    (sketch_profile: engine sketches hash-checked via sketch_exact) may
    lack an oracle."""
    window = list(entry_mod.queries())[:DRIVER_WINDOW]
    oracles = entry_mod.oracle_sql()
    rows_only = {n for n in window if n not in oracles}
    assert rows_only <= {"sketch_profile"}, rows_only


def test_witness_ages_reads_double_digit_rounds():
    """Regression (r11): the age scan must include CORRECTNESS_r10.json
    and beyond — a `r0*` glob silently dropped round >= 10 artifacts,
    freezing every age at its r09 value."""
    import json
    import os

    import __spark_entry__ as e

    r10 = os.path.join(os.path.dirname(e.__file__), "CORRECTNESS_r10.json")
    if not os.path.exists(r10):
        import pytest

        pytest.skip("no r10 artifact yet")
    with open(r10) as fh:
        data = json.load(fh)
    greens = [
        n for n, row in data.items()
        if isinstance(row, dict) and row.get("hash_match") is True
    ]
    ages = witness_ages()
    assert greens and all(ages[n] >= 10 for n in greens)


def test_rotation_cadence_bound_at_current_registry_size():
    """VERDICT r10 #8: with N registry entries and a 50-entry driver
    window, LRU rotation must guarantee every entry a green witness at
    least every ceil(N/50) rounds — the information-theoretic floor for
    a fixed window (no ordering can beat it).  Simulated from the
    CURRENT artifact state: each round stamps the first 50 of the
    recomputed order, and no entry's staleness ever exceeds the bound.
    At 153-200 entries the bound is 4 rounds; this pins both the number
    and the no-starvation property so registry growth past 200 (bound
    5) fails here and forces a policy rethink."""
    import math

    ages = dict(witness_ages())
    names = entry_mod._registry_names()
    n = len(names)
    bound = math.ceil(n / DRIVER_WINDOW)
    assert bound <= 4, (
        f"registry grew to {n}: cadence bound {bound} rounds — bump the "
        "window or split the registry"
    )
    start = max(ages.values(), default=0)
    last = {nm: ages.get(nm, start - bound) for nm in names}
    for rnd in range(start + 1, start + 3 * bound + 1):
        order = sorted(names, key=lambda nm: (last.get(nm, 0), nm))
        for nm in order[:DRIVER_WINDOW]:
            last[nm] = rnd
        worst = rnd - min(last.values())
        assert worst <= bound, (
            f"round {rnd}: an entry went {worst} rounds unwitnessed "
            f"(bound {bound})"
        )
