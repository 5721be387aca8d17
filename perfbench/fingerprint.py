"""Output fingerprints: row count, sorted column names and an
order-insensitive hash of the rows, canonicalised exactly as the
correctness harness does (``tools.check_correctness.canon``)."""

from __future__ import annotations

import hashlib

from tools.check_correctness import canon


def fingerprint(cols, rows) -> dict:
    rows = [tuple(r) for r in rows]
    digest = hashlib.sha256("\n".join(canon(rows, list(cols))).encode())
    return {"rows": len(rows), "cols": sorted(cols),
            "hash": digest.hexdigest()[:32]}


def of_frame(df) -> dict:
    return fingerprint(df.columns, df.collect())
