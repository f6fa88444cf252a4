"""Scratch directories for queries that round-trip data through files.

Every such query writes under ``<repo>/.tmp_io/<pid>/<sub>``
(gitignored), keyed by the driver process so two processes running the
same query in one checkout never empty each other's files; the
process removes its directory at exit. Only the driver calls
``tmp_io``: worker-side code receives the resulting paths. Leaf module
(standard library only), so plan modules, the streaming runners and
tests can all import it.
"""

from __future__ import annotations

import atexit
import os
import shutil

#: ``<repo>/.tmp_io/<pid>``: tests read query outputs from under it.
TMP_IO = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".tmp_io",
    str(os.getpid()),
)
atexit.register(shutil.rmtree, TMP_IO, ignore_errors=True)


def tmp_io(sub: str) -> str:
    """Return ``<repo>/.tmp_io/<pid>/<sub>``, emptied."""
    out = os.path.join(TMP_IO, sub)
    shutil.rmtree(out, ignore_errors=True)
    return out
