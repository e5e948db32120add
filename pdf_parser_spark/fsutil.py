"""Shared local-filesystem path guard.

The local stand-ins for Iceberg-layer operations (the snapshot
manifest log every job commits through, compaction's size probe and
directory swap) use local-FS semantics — Path.rglob, os.link,
os.replace. An object-store URI would quietly mis-resolve to a
relative local directory, so every component that touches paths this
way fails fast through this one helper instead of three copy-pasted
raise sites (r4 review)."""

from __future__ import annotations


def ensure_local_path(
    path: str,
    component: str,
    remedy: str = "use an Iceberg catalog (docs/RUNBOOK.md)",
) -> None:
    if "://" in path:
        raise ValueError(
            f"{component} operates on local filesystem paths only, got {path!r}; "
            f"for object-store tables {remedy}"
        )
