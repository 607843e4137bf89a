#!/usr/bin/env python
"""Print the driver contract of a checkout's ``__spark_entry__.py``.

    python scripts/registry_check.py <tree>

Imports ``<tree>/__spark_entry__.py`` (no Spark session is started) and
prints one JSON document: the ``queries()`` names in order, whether the
first 50 of them equal ``_DRIVER_WINDOW``, and the sha256 of each
``oracle_sql()`` text by name. Two trees keep the same contract when
their outputs are byte-identical: diff the two outputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys


def contract(entrymod) -> dict:
    names = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    return {
        "n_queries": len(names),
        "queries": names,
        "window_is_first_50": names[:50] == list(entrymod._DRIVER_WINDOW),
        "n_oracles": len(oracles),
        "oracle_sha256": {
            name: hashlib.sha256(sql.encode()).hexdigest() for name, sql in sorted(oracles.items())
        },
    }


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.abspath(sys.argv[1]))
    import __spark_entry__ as entrymod

    print(json.dumps(contract(entrymod), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
