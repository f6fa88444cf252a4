"""Scratch directories for queries that round-trip data through files.

Every such query writes under ``<repo>/.tmp_io/<sub>`` (gitignored).
Leaf module (standard library only), so plan modules, the streaming
runners and tests can all import it.
"""

from __future__ import annotations

import os
import shutil

#: ``<repo>/.tmp_io``: tests read query outputs from under it.
TMP_IO = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp_io"
)


def tmp_io(sub: str) -> str:
    """Return ``<repo>/.tmp_io/<sub>``, emptied."""
    out = os.path.join(TMP_IO, sub)
    shutil.rmtree(out, ignore_errors=True)
    return out
