#!/usr/bin/env python
"""Regenerate the registry's driver-prefix ordering from attestation history.

The round driver correctness-checks only the FIRST 50 entries of
``queries()`` each round, so the registry must rotate: queries whose code
changed this round first (their old attestation no longer vouches for the
new code), then every other query oldest-newest-green first. Rounds 2-5
hand-curated this order in ``registry.py:_PRIORITY``; one slip would have
silently starved a query's re-attestation (r5 verdict, What's missing #2).

This script makes staleness structurally impossible: it reads every
``CORRECTNESS_r*.json`` the driver has produced, computes each registered
query's newest GREEN round (rows+schema+hash all matching, no error; a red
or never-checked query sorts ahead of everything aged), and rewrites
``kafka_stream_sorter_spark/_priority.py`` — the pure-data module
``registry.py`` imports. ``tests/test_registry_attestation.py`` re-runs
the same derivation and fails if the committed file is stale or
hand-edited, and separately bounds every query's attestation age.

Usage (from anywhere):

    python scripts/gen_priority.py [--changed NAME ...]

``--changed`` lists queries whose implementation or oracle was modified
this round; they are pinned to the front in the given order and recorded
in the generated file so the test can reproduce the ordering.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "kafka_stream_sorter_spark", "_priority.py")


def _is_green(rec: dict) -> bool:
    """The ONE definition of a green driver verdict, shared by the aged-
    attestation map and the red-latest promotion so the two can't drift
    if the driver grows a new verdict field."""
    return bool(
        rec.get("rows_match")
        and rec.get("schema_match")
        # rows-only checks (no oracle) carry no hash_match key
        and rec.get("hash_match", True)
        and not rec.get("err")
    )


def _scan(
    repo: str, through_round: int | None
) -> tuple[int, dict[str, tuple[int, int]], set[str]]:
    """One pass over CORRECTNESS_r*.json: (latest_round, newest_green,
    red_latest). ``newest_green[query] = (round, position)`` where
    position is the query's insertion position inside that round's file —
    the driver's own check order as tie-break, so regeneration is stable.
    ``red_latest`` holds queries whose MOST RECENT verdict is not green.
    """
    latest, newest = 0, {}
    verdict: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        if through_round is not None and rnd > through_round:
            continue
        latest = max(latest, rnd)
        with open(path) as f:
            rows = json.load(f)
        for pos, (name, rec) in enumerate(rows.items()):
            if not isinstance(rec, dict):
                continue
            green = _is_green(rec)
            if green and rnd >= newest.get(name, (0, 0))[0]:
                newest[name] = (rnd, pos)
            if rnd >= verdict.get(name, (0, True))[0]:
                verdict[name] = (rnd, green)
    red = {n for n, (_, green) in verdict.items() if not green}
    return latest, newest, red


def load_attestations(
    repo: str = REPO, through_round: int | None = None
) -> tuple[int, dict[str, tuple[int, int]]]:
    """Return (latest_round, {query: (newest_green_round, position)}).

    Queries never green (red or never checked) are absent from the dict.
    ``through_round`` caps which CORRECTNESS files are read (used by the
    attestation test to reproduce a pre-rotation derivation when the
    driver's newest file landed after the round's final commit).
    """
    latest, newest, _ = _scan(repo, through_round)
    return latest, newest


def load_red_latest(
    repo: str = REPO, through_round: int | None = None
) -> set[str]:
    """Queries whose MOST RECENT driver verdict is red (checked but not
    green). Their old green attestation no longer vouches for them, so the
    derivation promotes them to the front with the never-green group — a
    driver-detected regression re-enters the checked prefix automatically
    instead of keeping its stale green sort key (r6 ADVICE item 2)."""
    return _scan(repo, through_round)[2]


def derive_priority(
    registered: list[str],
    changed: list[str],
    repo: str = REPO,
    through_round: int | None = None,
) -> list[str]:
    """The full registry order: changed first, then oldest-green first.

    Never-green queries (red latest verdict, never driver-checked, or
    green-then-red at their newest check) sort as round 0 — ahead of every
    aged green — in registry insertion order.
    """
    unknown = [n for n in changed if n not in registered]
    if unknown:
        raise SystemExit(f"--changed names unknown queries: {unknown}")
    _, newest, red = _scan(repo, through_round)
    reg_pos = {n: i for i, n in enumerate(registered)}
    rest = [n for n in registered if n not in set(changed)]
    rest.sort(
        key=lambda n: (0, reg_pos[n]) if n in red else newest.get(n, (0, reg_pos[n]))
    )
    return list(changed) + rest


def _warn_if_changed_looks_incomplete(changed: list[str]) -> None:
    """Best-effort guard against a forgotten ``--changed`` (r6 ADVICE
    item 2): if engine source files changed since _priority.py was last
    committed but no query was listed, print a loud warning naming the
    files. Heuristic only — file→query mapping is many-to-many, so this
    cannot be a hard failure; the red-latest promotion in derive_priority
    is the structural backstop for driver-detected regressions.

    Diffs ``{last}`` against the WORKING TREE (not ..HEAD): the typical
    forgotten---changed workflow edits a query, regenerates, and commits
    both together, so at regen time the edits are still uncommitted and a
    commit-to-commit diff would be empty. Untracked new engine files are
    included via ``git ls-files --others``."""
    import subprocess

    def _git(*argv: str) -> list[str]:
        return subprocess.run(
            ["git", *argv], cwd=REPO, capture_output=True, text=True,
            timeout=10,
        ).stdout.split()

    try:
        last = _git("log", "-1", "--format=%H", "--", OUT)
        if not last:
            return
        diff = _git(
            "diff", "--name-only", last[0], "--", "kafka_stream_sorter_spark"
        ) + _git(
            "ls-files", "--others", "--exclude-standard", "--",
            "kafka_stream_sorter_spark",
        )
    except Exception:
        return
    touched = [f for f in diff if not f.endswith("_priority.py")]
    if touched and not changed:
        print(
            "WARNING: engine sources changed since _priority.py was last "
            f"committed but --changed is empty: {touched}\n"
            "  If any registered query's code or oracle changed, rerun "
            "with --changed <names> so its stale attestation is re-checked."
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--changed", nargs="*", default=[])
    args = ap.parse_args()

    from kafka_stream_sorter_spark.registry import QUERIES

    registered = sorted(QUERIES)  # canonical input order: name-sorted
    _warn_if_changed_looks_incomplete(args.changed)
    order = derive_priority(registered, args.changed)
    latest, newest = load_attestations()

    lines = [
        '"""GENERATED by scripts/gen_priority.py — do not hand-edit.',
        "",
        "Registry order consumed by registry.py: queries changed this round",
        "first, then oldest-newest-green first (driver prefix = first 50).",
        f"Derived from CORRECTNESS_r*.json through round {latest}.",
        '"""',
        "",
        "from __future__ import annotations",
        "",
        f"LATEST_ROUND = {latest}",
        f"CHANGED: list[str] = {args.changed!r}",
        "",
        "PRIORITY: list[str] = [",
    ]
    for n in order:
        rnd = newest.get(n, (0, None))[0]
        lines.append(f"    {n!r},  # newest green: {'r%d' % rnd if rnd else 'NONE'}")
    lines += ["]", ""]
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    ages = [latest - newest.get(n, (0, 0))[0] for n in order]
    print(
        f"wrote {OUT}: {len(order)} queries, changed={args.changed}, "
        f"prefix=[{', '.join(order[:5])} ...], max attestation age "
        f"{max(ages)} rounds (through r{latest})"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
