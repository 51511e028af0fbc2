"""In-round re-verification is mechanical: every catalog entry whose
implementation changed since the last round snapshot must sit inside the
driver's 50-slot gate window (the front of __spark_entry__.queries()).

The mapping lives in tools/gate_priority.py (function-granular
git-diff → entry resolution); this test enforces its verdict so a
refactored entry can never ship without re-entering the window — the r6
verdict's process gap #5 (label_centroids was reshaped in 6ab9415 with no
driver row until the judge re-ran it)."""

from __future__ import annotations

import pathlib
import subprocess
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
sys.path.insert(0, str(ROOT))


def _gate_priority():
    import gate_priority

    return gate_priority


def test_touched_entries_are_in_gate_window():
    gp = _gate_priority()
    try:
        base = gp.last_round_rev()
    except subprocess.CalledProcessError:
        pytest.skip("not a git checkout")
    if base is None:
        pytest.skip("no round-snapshot commit to diff against")
    touched = gp.touched_entries(base)

    import __spark_entry__ as se
    from msgvault_spark.catalog import CATALOG

    front = list(se.queries())[: gp.WINDOW]
    oracle_touched = [
        t for t in touched if CATALOG[t].oracle_sql is not None
    ]
    # r11 structural rule: entries touched by a NARROW change (blast
    # radius ≤ window) are non-evictable — the r10 semantic-decontamination
    # flip shipped after the window rebuild and dodged its driver row;
    # overflow tolerance below never excuses a narrow-change entry.
    must = gp.must_verify_entries(base)
    missing_must = [
        t for t in must if CATALOG[t].oracle_sql is not None and t not in front
    ]
    assert not missing_must, (
        f"entries rewritten by narrow changes since {base[:12]} must hold "
        f"gate slots: {missing_must}"
    )
    if len(oracle_touched) > gp.WINDOW:
        # more touched than the window holds: every slot must be spent
        # on a touched entry (no stale filler ahead of changed work)
        interlopers = [f for f in front if f not in touched]
        assert not interlopers, (
            f"{len(oracle_touched)} entries touched since {base[:12]} — "
            f"the gate window must be all-touched, but holds {interlopers}"
        )
    else:
        missing = [t for t in oracle_touched if t not in front]
        assert not missing, (
            f"entries changed since {base[:12]} but not in the front "
            f"{gp.WINDOW} of queries(): {missing} — run "
            "`python tools/gate_priority.py` and update _PRIORITY"
        )


def test_footprint_resolves_function_local_imports():
    """The dependency walk must follow function-local `from m import f`
    edges and same-module helper references — the two shapes the catalog
    actually uses — without blowing up to whole-package granularity."""
    gp = _gate_priority()
    pkg = gp._load_package()
    visited, coarse = gp._entry_footprint(
        "msgvault_spark.catalog_dedup", "lsh_capped_hot_bucket", pkg
    )
    mods = {m for m, _ in visited}
    # follows the entry's own import (pairs_from_index) ...
    assert ("msgvault_spark.dedup.minhash", "pairs_from_index") in visited
    # ... the same-module helper it calls, and THAT helper's imports
    assert (
        "msgvault_spark.catalog_dedup",
        "_hot_planted_index",
    ) in visited
    assert "msgvault_spark.sources.cache" in mods
    # and does NOT drag in unrelated hub fan-out (cache.py lazily
    # imports the streaming stack; a module-granular closure would)
    assert not any(m.startswith("msgvault_spark.streaming") for m in mods)
    assert not any(c.startswith("msgvault_spark.catalog") for c in coarse)


def test_ab_tools_diff_against_the_gate_base():
    """tools/bench_ab.py (and micro_ab.py, which takes its default) A/B
    the working tree against the base the gate diffs against, and name
    the artifact one past the newest BENCH_AB_r<N>.json."""
    gp = _gate_priority()
    try:
        base = gp.last_round_rev()
    except subprocess.CalledProcessError:
        pytest.skip("not a git checkout")
    if base is None:
        pytest.skip("no boundary commit to diff against")
    import bench_ab

    assert bench_ab.prev_round_rev() == base
    newest = max(
        (int(p.stem.split("_r")[-1]) for p in ROOT.glob("BENCH_AB_r*.json")
         if p.stem.split("_r")[-1].isdigit()),
        default=0,
    )
    assert bench_ab.next_artifact().name == f"BENCH_AB_r{newest + 1}.json"
