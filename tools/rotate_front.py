"""Recompute the staleness-refresh `_FRONT` list for the next round.

Coverage has been complete since round 7 (every oracle query carries a
driver-issued green row), so each round's `_FRONT` simply fronts the 50
queries whose last GREEN driver sample is OLDEST — ties broken by raw
registration order (the documented rule in registry.py). A sampled-but-
failed row does not count as freshness: a query whose last sample was
red must be re-fronted, not deprioritized. This tool derives the list
from the committed CORRECTNESS_r*.json files and prints it as a
paste-ready Python list literal, removing the transcription step (the
registry contract test catches names that don't exist, but only this
recomputation establishes "stalest").

The tie-break uses ``registry.registration_order()`` (the committed
REGISTRATION_ORDER.txt sequence), NOT ``queries()`` iteration order —
the latter fronts the current ``_FRONT`` first, which would corrupt the
tie-break in a driver-skip round where front members stay stale.

Usage: python tools/rotate_front.py
Then paste the output over `_FRONT` in orchestrated_etl_spark/registry.py,
update its round comment, and run the gate-2 rehearsals
(`check_oracle.py --vanilla [--pandas] --first 50`) before shipping.
"""

from __future__ import annotations

import json
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from orchestrated_etl_spark import registry  # noqa: E402

WINDOW = 50


def _green(row: object) -> bool:
    """A driver row counts as freshness only if it verified clean.

    DEFAULT-DENY (round-9 advice): the row must explicitly carry
    ``err`` (null), ``rows_match`` is True and ``schema_match`` is True
    — a truncated/partial future row shape must not count as freshness.
    ``hash_match`` must be True when present; absent/null is tolerated
    only because oracle-less rows-only checks have no hash to carry.
    Every committed CORRECTNESS row to date (r1–r9, 450 rows) has the
    full 6-key shape, so the hardening changes no historical result
    (pinned by test_rotate_front_reproduces_r8_front).
    """
    if not isinstance(row, dict):
        return False
    if "err" not in row or row["err"] is not None:
        return False
    if row.get("rows_match") is not True:
        return False
    if row.get("schema_match") is not True:
        return False
    hm = row.get("hash_match")
    return hm is True or hm is None


def main() -> None:
    last: dict[str, int] = {}
    rounds = sorted(REPO.glob("CORRECTNESS_r*.json"))
    for path in rounds:
        rnd = int(path.name.rsplit("_r", 1)[1].split(".")[0])
        with open(path) as f:
            for name, row in json.load(f).items():
                if _green(row):
                    last[name] = max(last.get(name, 0), rnd)
    reg_order = {
        n: i for i, n in enumerate(registry.registration_order())
    }
    oracles = registry.oracle_sql()
    oracle_names = [n for n in reg_order if n in oracles]
    unsampled = [n for n in oracle_names if n not in last]
    if unsampled:
        print(f"# WARNING: {len(unsampled)} oracle queries have no green "
              f"sample — they front unconditionally: {unsampled}",
              file=sys.stderr)
    stale = sorted(
        oracle_names, key=lambda n: (last.get(n, 0), reg_order[n])
    )[:WINDOW]
    by_round: dict[int, list[str]] = {}
    for n in stale:
        by_round.setdefault(last.get(n, 0), []).append(n)
    print(f"# {len(rounds)} correctness files read; next _FRONT by "
          f"last-green round: "
          f"{ {r: len(ns) for r, ns in sorted(by_round.items())} }")
    print("_FRONT = [")
    for rnd, names in sorted(by_round.items()):
        label = "no green sample" if rnd == 0 else f"last green round {rnd}"
        print(f"    # {len(names)} stalest: {label} (registration order)")
        body = ", ".join(f'"{n}"' for n in names) + ","
        wrapped = textwrap.fill(
            body, width=71, break_long_words=False, break_on_hyphens=False
        )
        print(textwrap.indent(wrapped, "    "))
    print("]")


if __name__ == "__main__":
    main()
