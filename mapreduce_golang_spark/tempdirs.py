"""Process-lifetime scratch directories for queries that need a
checkpoint / state / sink / table on disk: the streaming proofs
(kill-recover in streaming/recovery.py, state-store introspection,
foreachBatch fanout, state schema evolution, and the CDC apply that
`__spark_entry__._streaming_cdc_state` runs) and the bucketed tables of
sources/formats.py.

Those queries return a DataFrame that LAZILY reads from the scratch
dir (statestore scan, file-sink read), so the dir cannot be removed
when the function returns — but leaving it behind leaks: the bench
harness runs every graded query at least twice per round, so repeated
rounds accumulated orphaned mr_spark_* trees under /tmp (round-10
advice #4). `scratch_dir` therefore registers every dir it mints for
one rmtree at interpreter exit — after any possible materialization,
before the leak outlives the process.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_REGISTERED: list[str] = []


def scratch_dir(prefix: str) -> str:
    """mkdtemp whose tree is removed at interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _REGISTERED.append(d)
    return d


@atexit.register
def _cleanup() -> None:
    while _REGISTERED:
        shutil.rmtree(_REGISTERED.pop(), ignore_errors=True)
