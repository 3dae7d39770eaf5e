"""Per-table maintenance configuration (SURVEY.md §1.4).

The reference drives every lane from a declarative registry — target
layout, retention, and checks live with the TABLE, not the invocation
(/root/reference/sources/registry.yml:1-24, /root/reference/ofl/registry.py:19-111).
Frost's analogue: ``maintenance.*`` keys in the table properties, declared
at create time and read by ``run_maintenance``/``merge_into``/the CLI as
defaults; explicit call arguments always override.

Properties are plain JSON in the table metadata, so values may arrive as
ints/bools (written via the API) or strings (written via a CLI); the
resolver coerces both.
"""

from __future__ import annotations

from open_finance_lakehouse_spark.format.table import LakeTable
from open_finance_lakehouse_spark.operators import binpack

MAINTENANCE_DEFAULTS: dict = {
    # DELIBERATE unification (r3): run_maintenance's old signature default
    # was a sandbox-sized 8 MiB; the format-wide default is 128 MiB —
    # tables without a declared target now get the production size, and
    # benches/tests that want small files pass target_bytes explicitly.
    "target_bytes": binpack.DEFAULT_TARGET_FILE_BYTES,
    "curve": "zorder",          # zorder | hilbert | none
    "retain_last": 1,
    "gc_grace_ms": None,        # None -> operator default grace
    "snr_gate": "off",          # off | serial | overlap
    "parity_gate": False,
    "salt_count": None,         # None -> planner probes the source
}

_INT_KEYS = {"target_bytes", "retain_last", "gc_grace_ms", "salt_count"}
_BOOL_KEYS = {"parity_gate"}


def maintenance_properties(config: dict) -> dict:
    """``{"target_bytes": n, ...}`` → ``{"maintenance.target_bytes": n}``
    for ``LakeTable.create(properties=...)``. Unknown keys refuse loudly —
    a typo'd knob silently falling back to defaults is the registry
    anti-pattern this module exists to prevent."""
    unknown = set(config) - set(MAINTENANCE_DEFAULTS)
    if unknown:
        raise ValueError(
            f"unknown maintenance keys {sorted(unknown)}; expected a subset "
            f"of {sorted(MAINTENANCE_DEFAULTS)}")
    return {f"maintenance.{k}": v for k, v in config.items()}


def maintenance_config(table: LakeTable) -> dict:
    """Effective per-table config: declared properties over the defaults."""
    props = table.meta.properties or {}
    out = dict(MAINTENANCE_DEFAULTS)
    for k in MAINTENANCE_DEFAULTS:
        v = props.get(f"maintenance.{k}")
        if v is None:
            continue
        if k in _INT_KEYS:
            v = int(v)
        elif k in _BOOL_KEYS and not isinstance(v, bool):
            v = str(v).lower() in ("true", "1", "yes")
        elif k == "curve" and str(v).lower() in ("none", ""):
            v = None
        out[k] = v
    return out
