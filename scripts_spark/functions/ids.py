"""Deterministic lineage ids.

The reference generates *random* uuids and then needs a global
uniqueness audit (/root/reference/src/cur-prot/add_uuid.py:59,85 and
src/ck-duplicate-uuids.py:13-27). We derive ids from content instead
(SURVEY.md §2.11): reruns are byte-stable and uniqueness ≡ key
uniqueness, so the audit becomes a cheap invariant check.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def doc_id_expr(url: Column, text: Column) -> Column:
    """Content-hash id: hex sha256 of url + '\\n' + scrubbed text."""
    return F.sha2(F.concat_ws("\n", url, text), 256)
