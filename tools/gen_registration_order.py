"""Update the committed query registration order, ``REGISTRATION_ORDER.txt``.

The registry orders ``queries()`` / ``oracle_sql()`` by this artifact
(``_FRONT`` first, then the remaining names in line order), and it is
the staleness-rotation tie-break ``tools/rotate_front.py`` reads. The
update is append-only: existing lines keep their order, names of
queries that are no longer registered are dropped, and newly registered
names are appended. ``registry.registration_order()`` raises with a
pointer here when the membership drifts.

Usage: python tools/gen_registration_order.py
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from orchestrated_etl_spark import registry  # noqa: E402

HEADER = """\
# Canonical query registration order (staleness-rotation tie-break).
# Maintained by tools/gen_registration_order.py (append-only); do not
# edit by hand. One query name per line, registration sequence.
"""


def main() -> None:
    # The live dict, not registration_order(): that accessor raises on
    # exactly the drift this tool repairs.
    registry._load_all()
    live = list(registry._QUERIES)
    kept = [n for n in registry.frozen_registration_order() if n in live]
    names = kept + [n for n in live if n not in kept]
    registry._ORDER_FILE.write_text(HEADER + "\n".join(names) + "\n")
    print(f"wrote {len(names)} names to {registry._ORDER_FILE}")


if __name__ == "__main__":
    main()
